"""``tune_session``: only Spark's cannot-modify-config errors are tolerated."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from conecta_spark.session import tune_session


class _Conf:
    def __init__(self, error: Exception) -> None:
        self.error = error

    def set(self, key: str, value: str) -> None:
        raise self.error


class _Session:
    def __init__(self, error: Exception) -> None:
        self.conf = _Conf(error)


def test_tune_session_tolerates_immutable_config(spark):
    with pytest.raises(AnalysisException) as e:
        spark.conf.set("spark.sql.warehouse.dir", "/elsewhere")  # static
    tune_session(_Session(e.value))


def test_tune_session_surfaces_other_errors(spark):
    with pytest.raises(ConnectionError):
        tune_session(_Session(ConnectionError("gateway gone")))
    with pytest.raises(AnalysisException) as e:
        spark.sql("select * from no_such_table_anywhere")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        tune_session(_Session(e.value))
