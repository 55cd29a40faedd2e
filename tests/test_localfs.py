"""The java.nio local filesystem that ``get_spark`` installs for ``file:``.

Without native libhadoop, Hadoop's ``RawLocalFileSystem`` forks ``chmod``
per created file and directory and ``readlink`` per link-status lookup.
``hedera_etl_spark/jvm/NioLocalFileSystem.java`` does both in java.nio;
these tests pin that the session really uses it, that local writes (batch
and the streaming checkpoint) fork nothing, that the on-disk result is the
stock filesystem's, and when ``get_spark`` must leave Hadoop's in place.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path
from types import SimpleNamespace

import pytest

from hedera_etl_spark import session as S

REPO = Path(__file__).resolve().parent.parent
NIO_FS, NIO_FC = S.LOCALFS_CONFS.values()


def _hadoop(spark):
    jvm = spark.sparkContext._jvm
    return jvm, spark.sparkContext._jsc.hadoopConfiguration()


def _child_cpu_ticks(pid: int) -> int:
    """cutime + cstime of ``pid``: CPU of the children it has reaped."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])


def _partitioned_write(spark, path: str) -> None:
    spark.range(3000).selectExpr("id", "id % 30 AS p").write.mode("overwrite").partitionBy(
        "p"
    ).parquet(path)


def _one_streamed_batch(spark, root: Path) -> None:
    src = root / "src"
    src.mkdir(parents=True, exist_ok=True)
    (src / f"f{len(list(src.iterdir()))}.json").write_text('{"a": 1}\n{"a": 2}\n')
    q = (
        spark.readStream.schema("a LONG")
        .json(str(src))
        .writeStream.format("parquet")
        .option("path", str(root / "out"))
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_session_resolves_file_scheme_to_nio_classes(spark):
    jvm, conf = _hadoop(spark)
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == NIO_FS
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == NIO_FC


@pytest.mark.skipif(not os.path.isdir("/proc/self"), reason="needs /proc")
def test_local_writes_and_checkpoint_reap_no_child(spark, tmp_path):
    """A 30-partition parquet write and one checkpointed micro-batch
    (offsets WAL, commit log, sink metadata: FileContext renames) start
    no child process per file.  Hadoop's stock filesystem reaps one
    ``chmod`` per file and directory here, so its cutime moves by about
    250 ticks (2.6 s of child CPU in one run on a loaded 4-core box).
    The allowance covers the few children the JVM still starts on its
    own schedule (one-off ``setsid`` / ``getconf`` probes, Spark's
    ``rm -rf`` of temp dirs), a few ms of CPU each."""
    jvm, _ = _hadoop(spark)
    pid = int(jvm.java.lang.ProcessHandle.current().pid())
    # warm-up: one-off JVM work (class loading, Hadoop Shell probes)
    _partitioned_write(spark, str(tmp_path / "warm"))
    _one_streamed_batch(spark, tmp_path / "stream")

    before = _child_cpu_ticks(pid)
    _partitioned_write(spark, str(tmp_path / "t"))
    _one_streamed_batch(spark, tmp_path / "stream")
    assert _child_cpu_ticks(pid) - before <= 5
    assert len(list((tmp_path / "t").glob("p=*"))) == 30
    assert spark.read.parquet(str(tmp_path / "stream" / "out")).count() == 4


def test_layout_and_modes_match_stock_localfs(spark, tmp_path):
    jvm, conf = _hadoop(spark)
    Path_ = jvm.org.apache.hadoop.fs.Path
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    nio = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    modes = {}
    for name, fs in (("stock", stock), ("nio", nio)):
        d = tmp_path / name / "a" / "b"
        fs.mkdirs(Path_(str(d)))
        fs.create(Path_(str(d / "f"))).close()
        modes[name] = [
            os.stat(p).st_mode & 0o7777
            for p in (d.parent, d, d / "f", d / ".f.crc")
        ]
    assert modes["nio"] == modes["stock"] == [0o755, 0o755, 0o644, 0o644]
    # explicit modes; the sticky bit goes through Hadoop's own chmod
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    for mode in ("640", "1777"):
        target = tmp_path / "nio" / mode
        target.mkdir()
        nio.setPermission(Path_(str(target)), FsPermission(mode))
        assert os.stat(target).st_mode & 0o7777 == int(mode, 8)

    out = tmp_path / "pq"
    _partitioned_write(spark, str(out))
    assert (out / "_SUCCESS").is_file() and (out / "._SUCCESS.crc").is_file()
    parts = list(out.glob("p=*/part-*.parquet"))
    assert len(parts) >= 30
    for part in parts:
        assert (part.parent / f".{part.name}.crc").is_file(), part
    for dirpath, dirnames, filenames in os.walk(out):
        assert os.stat(dirpath).st_mode & 0o7777 == 0o755, dirpath
        for f in filenames:
            assert os.stat(os.path.join(dirpath, f)).st_mode & 0o7777 == 0o644, f


def test_symlinked_input_dir_lists_and_reads(spark, tmp_path):
    real = tmp_path / "real"
    spark.range(50).write.parquet(str(real))
    link = tmp_path / "link"
    link.symlink_to(real, target_is_directory=True)
    assert spark.read.parquet(str(link)).count() == 50

    # FileContext link status: a real and a dangling link still report as
    # links (the stock code path); a plain file does not
    jvm, conf = _hadoop(spark)
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    Path_ = jvm.org.apache.hadoop.fs.Path
    dangling = tmp_path / "dangling"
    dangling.symlink_to(tmp_path / "missing")
    assert fc.getFileLinkStatus(Path_(str(link))).isSymlink()
    assert fc.getFileLinkStatus(Path_(str(dangling))).isSymlink()
    assert not fc.getFileLinkStatus(Path_(str(real / "_SUCCESS"))).isSymlink()


class _Gateway:
    """Stands in for a py4j gateway whose JVM does or does not load the
    filesystem classes."""

    def __init__(self, has_class: bool):
        def for_name(name):
            self.probes += 1
            if not has_class:
                raise RuntimeError(f"ClassNotFoundException: {name}")

        self.probes = 0
        self.jvm = SimpleNamespace(
            java=SimpleNamespace(lang=SimpleNamespace(Class=SimpleNamespace(forName=for_name)))
        )


def test_running_jvm_gets_class_names_only_if_it_has_the_class(monkeypatch):
    from pyspark import SparkContext

    without, with_ = _Gateway(False), _Gateway(True)
    monkeypatch.setattr(SparkContext, "_gateway", without)
    assert S._localfs_confs(None) == {}
    assert S._localfs_confs("x.jar") == {}  # caller's classpath not touched
    monkeypatch.setattr(SparkContext, "_gateway", with_)
    assert S._localfs_confs(None) == S.LOCALFS_CONFS
    assert S._localfs_confs(None) == S.LOCALFS_CONFS
    assert (without.probes, with_.probes) == (1, 1)  # memoized per gateway


def test_launch_merges_the_jar_into_the_callers_classpath(monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    confs = S._localfs_confs(f"x.jar{os.pathsep}lib/y.jar")
    cp = confs.pop("spark.driver.extraClassPath").split(os.pathsep)
    assert cp[:2] == ["x.jar", "lib/y.jar"] and cp[2].endswith(".jar")
    assert os.path.isfile(cp[2])
    assert confs == S.LOCALFS_CONFS
    # a JVM that spark-submit started is not ours to configure
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert S._localfs_confs(None) == {}


def test_untrusted_jar_cache_falls_back_with_a_warning(tmp_path, monkeypatch):
    shared = tmp_path / "shared"
    (shared / "hedera_etl_spark").mkdir(parents=True)
    (shared / "hedera_etl_spark").chmod(0o777)  # group/other-writable
    monkeypatch.setenv("XDG_CACHE_HOME", str(shared))
    with pytest.warns(UserWarning, match="local filesystem"):
        assert S._build_localfs_jar() is None


def test_get_spark_without_javac_keeps_stock_fs(tmp_path):
    """With no ``javac`` on PATH and a cold jar cache, ``get_spark`` warns
    and returns a working session on Hadoop's own local filesystem."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    for d in os.environ.get("PATH", "").split(os.pathsep):
        if not os.path.isdir(d):
            continue
        for name in os.listdir(d):
            if name != "javac" and not (bin_dir / name).exists():
                (bin_dir / name).symlink_to(os.path.join(d, name))
    env = dict(
        os.environ,
        PATH=str(bin_dir),
        XDG_CACHE_HOME=str(tmp_path / "cache"),
        SPARK_DRIVER_MEMORY="512m",
    )
    env.pop("PYSPARK_GATEWAY_PORT", None)
    script = (
        "import warnings\n"
        "from hedera_etl_spark.session import get_spark\n"
        "with warnings.catch_warnings(record=True) as w:\n"
        "    warnings.simplefilter('always')\n"
        "    s = get_spark('nojavac', cpus=1)\n"
        "jvm = s.sparkContext._jvm\n"
        "conf = s.sparkContext._jsc.hadoopConfiguration()\n"
        "fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI('file:///'), conf)\n"
        "print('WARNINGS', sum('javac' in str(x.message) for x in w))\n"
        "print('FS', fs.getClass().getName())\n"
        "print('COUNT', s.range(7).count())\n"
        "s.stop()\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    lines = dict(
        line.split(" ", 1) for line in done.stdout.splitlines() if line[:3] in ("WAR", "FS ", "COU")
    )
    assert lines["WARNINGS"] == "1"
    assert lines["FS"] not in (NIO_FS, NIO_FC)
    assert lines["COUNT"] == "7"
    assert not list((tmp_path / "cache").rglob("*.jar"))


def test_hed_dedupe_job_leaves_no_workdir(spark, tmp_path, monkeypatch):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hedera_etl_spark.queries import load_registry

    n = 200
    t0 = dt.datetime(2024, 1, 1)
    ts = [t0 + dt.timedelta(hours=i, microseconds=i) for i in range(n)]
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
                "event_type": ["view"] * n,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        ),
        sf / "events.parquet",
    )
    temp = tmp_path / "temp"
    temp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp))
    rows = load_registry()["hed_dedupe_job"].spark_fn(spark, str(sf)).collect()
    max_ts_sec = int(ts[-1].replace(tzinfo=dt.timezone.utc).timestamp())
    assert [tuple(r) for r in rows] == [(n, n, 0, sum(range(n)), max_ts_sec)]
    assert not list(temp.iterdir())
