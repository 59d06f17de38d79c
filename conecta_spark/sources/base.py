"""Source protocol: what the planner and reader need from a backend.

The reference's ``Source`` trait (conecta-core/src/source/mod.rs) bundles
schema probing, metadata pushdown, and the scan itself; ours is the same
surface expressed over Spark DataFrames.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession


class Source(ABC):
    """A queryable backend that can probe metadata and produce DataFrames."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    @abstractmethod
    def query(self, sql: str) -> DataFrame:
        """Run one SQL query and return its (lazy) DataFrame."""

    @abstractmethod
    def min_max(self, sql: str, column: str) -> tuple[int | None, int | None]:
        """Pushdown ``SELECT MIN(col), MAX(col)`` over the query result,
        cast to int (postgres.rs:556-592 analog)."""

    @abstractmethod
    def read_partitioned(self, plan) -> DataFrame:
        """Execute a :class:`~conecta_spark.plans.metadata.PartitionPlan`
        and return the unioned DataFrame."""
