"""The driver JVM's class-data-sharing archive (``session.DriverArchive``).

Each JVM case runs ``get_session`` in a subprocess with ``XDG_CACHE_HOME``
pointed at a temporary directory, so no case touches the user's cache and
each starts from a known cache state.  The first start's recording JVM is
waited for, because it writes the archive when it exits.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from conecta_spark.session import DriverArchive

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Starts a session, starts it again, stops it, and waits for the JVM to
#: exit.  Prints its findings as the last line of stdout.
SCRIPT = r"""
import json, os, sys, warnings
from pyspark import SparkContext
from conecta_spark.session import DriverArchive, get_session

conf = json.loads(sys.argv[1])
path = DriverArchive.for_conf(conf).path
with warnings.catch_warnings(record=True) as caught:
    warnings.simplefilter("always", RuntimeWarning)
    spark = get_session(extra_conf=conf)
    cache = sorted(os.listdir(os.path.dirname(path)))
    again = get_session(extra_conf=conf)
gateway = SparkContext._gateway
with open(f"/proc/{gateway.proc.pid}/maps") as f:
    mapped = os.path.realpath(path) in f.read()
out = {
    "rows": spark.range(10).count(),
    "same_session": again is spark,
    "cache_unchanged": sorted(os.listdir(os.path.dirname(path))) == cache,
    "mapped": mapped,
    "java_opts": spark.sparkContext.getConf().get(
        "spark.driver.defaultJavaOptions", ""),
    "spark_conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "warnings": [str(w.message) for w in caught
                 if issubclass(w.category, RuntimeWarning)],
}
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()  # the JVM exits, and writes a recording, now
gateway.proc.wait(timeout=120)
print(json.dumps(out))
"""

CONF = {"spark.driver.memory": "1g", "spark.ui.enabled": "false"}


def start(cache: str, cwd: str, conf: dict[str, str] = CONF) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    env.update(XDG_CACHE_HOME=cache, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS="2")
    os.makedirs(cwd, exist_ok=True)
    p = subprocess.run([sys.executable, "-c", SCRIPT, json.dumps(conf)],
                       cwd=cwd, env=env, capture_output=True, text=True,
                       timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    # Stdout hygiene: the JVM's CDS messages must not reach it.
    assert "[cds]" not in p.stdout, p.stdout[:3000]
    assert not glob.glob(os.path.join(cwd, "hs_err_pid*.log"))
    return json.loads(p.stdout.splitlines()[-1])


def archive_path(cache: str, conf: dict[str, str] = CONF) -> str:
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", cache)
        mp.delenv("SPARK_CONF_DIR", raising=False)
        return DriverArchive.for_conf(conf).path


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """The first start with an empty cache: (cache dir, its output, a link
    to the archive it recorded).  The archives are ~140 MB: removed after."""
    base = tmp_path_factory.mktemp("cds")
    cache = str(base / "cache")
    out = start(cache, str(base / "work"))
    part, = glob.glob(os.path.join(cache, "conecta-spark", "cds", "*.part"))
    os.link(part, base / "recorded.jsa")
    yield cache, out, str(base / "recorded.jsa")
    shutil.rmtree(base)


def test_first_start_records_and_second_maps(recorded, tmp_path):
    cache, first, _ = recorded
    assert first["rows"] == 10 and not first["warnings"]
    assert "-XX:ArchiveClassesAtExit=" in first["java_opts"]
    assert not first["mapped"]
    assert first["spark_conf_dir"] is None  # set only for the launch
    path = archive_path(cache)
    assert not os.path.exists(path)  # promoted by the next start only

    second = start(cache, str(tmp_path / "work"))
    assert second["rows"] == 10 and not second["warnings"]
    assert "-XX:SharedArchiveFile=" in second["java_opts"]
    assert second["mapped"] and os.path.exists(path)
    assert not glob.glob(path[:-len(".jsa")] + ".*.p*")
    # A second get_session in a process with a JVM adds nothing.
    assert second["same_session"] and second["cache_unchanged"]


def _archive_copy(recorded, cache: str, conf=CONF, size=None) -> str:
    """Put the recorded archive, or its first ``size`` bytes, where
    ``conf``'s archive goes in ``cache``."""
    path = archive_path(cache, conf)
    os.makedirs(os.path.dirname(path))
    if size is None:
        os.link(recorded[2], path)
    else:
        with open(recorded[2], "rb") as src, open(path, "wb") as dst:
            dst.write(src.read(size))
    return path


def test_truncated_archive_warns_and_starts_without_it(recorded, tmp_path):
    cache = str(tmp_path / "cache")
    path = _archive_copy(recorded, cache,
                         size=os.path.getsize(recorded[2]) // 3)
    out = start(cache, str(tmp_path / "work"))
    assert out["rows"] == 10
    assert any("failed to start" in w for w in out["warnings"]), out
    assert "-XX:SharedArchiveFile=" not in out["java_opts"]
    assert not os.path.exists(path)
    # The crash report went to the cache, not the working directory.
    assert glob.glob(os.path.join(os.path.dirname(path), "hs_err_*.log"))


def test_stale_archive_warns_and_is_deleted(recorded, tmp_path):
    jar = str(tmp_path / "extra.jar")
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("extra.txt", "x")
    conf = {**CONF, "spark.driver.extraClassPath": jar}
    cache = str(tmp_path / "cache")
    # Dumped without the extra jar: the JVM ignores it without a word.
    path = _archive_copy(recorded, cache, conf)
    out = start(cache, str(tmp_path / "work"), conf)
    assert out["rows"] == 10 and not out["mapped"]
    assert any("ignored it" in w for w in out["warnings"]), out
    assert not os.path.exists(path)


@pytest.fixture()
def no_conf_dir(monkeypatch):
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)


def test_undumpable_classpath_or_set_conf_dir_turns_cds_off(no_conf_dir, monkeypatch,
                                                     tmp_path):
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    assert DriverArchive.for_conf(CONF) is not None
    (home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    assert DriverArchive.for_conf(CONF) is None
    (home / "conf" / "spark-defaults.conf").unlink()
    monkeypatch.setenv("HADOOP_CONF_DIR", str(home / "conf"))  # non-empty
    assert DriverArchive.for_conf(CONF) is None
    monkeypatch.delenv("HADOOP_CONF_DIR")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    assert DriverArchive.for_conf(CONF) is None
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "conf")


def test_recording_promoted_only_after_its_writer_exits(no_conf_dir, monkeypatch,
                                                        tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    archive = DriverArchive.for_conf(CONF)
    os.makedirs(archive.cache)
    exited = subprocess.Popen(["true"])
    exited.wait()
    with open(f"{archive.launch}.part", "w") as f:
        f.write("archive")
    with open(f"{archive.launch}.pid", "w") as f:
        f.write(str(os.getpid()))  # still running: not promoted
    archive.configure(CONF)
    assert not archive.mapped and not os.path.exists(archive.path)
    with open(f"{archive.launch}.pid", "w") as f:
        f.write(str(exited.pid))
    opts = archive.configure(CONF)["spark.driver.defaultJavaOptions"]
    assert archive.mapped and os.path.exists(archive.path)
    assert f"-XX:SharedArchiveFile={archive.path}" in opts
    # A writer that exited without writing its recording is reported.
    os.remove(archive.path)
    with open(f"{archive.launch}.pid", "w") as f:
        f.write(str(exited.pid))
    with pytest.warns(RuntimeWarning, match="without writing"):
        archive.configure(CONF)
    assert not glob.glob(f"{archive.launch}.*")


def test_caller_default_java_options_are_kept(no_conf_dir, monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    conf = {**CONF, "spark.driver.defaultJavaOptions": "-Dmine=1"}
    opts = DriverArchive.for_conf(conf).configure(conf)
    assert opts["spark.driver.defaultJavaOptions"].startswith("-Dmine=1 -XX:")
