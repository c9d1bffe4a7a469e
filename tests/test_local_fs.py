"""``file://`` I/O runs on ``jvm/NoForkLocalFileSystem`` (see session.py):
no write starts a ``chmod`` process, and the files, modes, ``.crc``
sidecars and read-side checksum verification are Hadoop's own. The jar
must be what its committed source compiles to."""

import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

import pyarrow.parquet as pq
import pytest

from rustcheatersdatapipeline_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.dirname(session._NO_FORK_FS_JAR)
SHIM = "rustcheaters.hadoop.NoForkLocalFileSystem"

_SPAWN_PROBE = textwrap.dedent(
    """
    import sys
    from rustcheatersdatapipeline_spark.session import get_spark
    from rustcheatersdatapipeline_spark.warehouse.persist import GoldStore

    out = sys.argv[1]
    spark = get_spark(app_name="chmod-probe", cpus="2", shuffle_partitions=2)
    spark.range(20).selectExpr("cast(20210101 + id as int) as date_sk", "id as v") \\
        .coalesce(1).write.partitionBy("date_sk").parquet(out + "/fanout")
    bans = spark.createDataFrame(
        [(p, p % 3, 20210101 + p % 4) for p in range(8)], "player_sk int, days int, date_sk int"
    )
    GoldStore(spark, out + "/gold").publish({"bans_fact": bans}, 0)
    # control: a sticky bit is left to the stock chmod, so the logger is live
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(out + "/fanout"),
                     jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    spark.stop()
    """
)


def test_writes_spawn_no_chmod(tmp_path):
    """A fresh ``get_spark`` JVM with a logging ``chmod`` first on its
    PATH: a 20-value ``date_sk`` fan-out write and a ``GoldStore``
    publish of a partitioned fact log no call. The stock local
    filesystem spawns about three per file written."""
    log = tmp_path / "chmod.log"
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    fake = bin_dir / "chmod"
    fake.write_text(f'#!/bin/sh\necho "$*" >> {log}\nexec {shutil.which("chmod")} "$@"\n')
    fake.chmod(0o755)
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}", SPARK_DRIVER_MEM="1g")
    out = tmp_path / "out"
    probe = subprocess.run(
        [sys.executable, "-c", _SPAWN_PROBE, str(out)],
        cwd=REPO, env=env, timeout=600, capture_output=True, text=True,
    )
    assert probe.returncode == 0, probe.stderr[-3000:]
    assert len(list(out.glob("fanout/date_sk=*"))) == 20
    assert list(out.glob("gold/_data/*/bans_fact/date_sk=*"))
    assert log.read_text().splitlines() == [f"1777 {out}/fanout"]


def _hadoop(spark):
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm, conf, jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def test_file_scheme_is_the_checksummed_shim(spark):
    jvm, _, fs = _hadoop(spark)
    assert fs.getClass().getName() == SHIM
    assert jvm.java.lang.Class.forName("org.apache.hadoop.fs.LocalFileSystem").isInstance(fs)


def test_partitioned_write_keeps_modes_and_crc_sidecars(spark, tmp_path):
    jvm, conf, _ = _hadoop(spark)
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(conf).toShort()
    out = tmp_path / "t"
    df = spark.range(6).selectExpr("id % 3 as date_sk", "id as v").coalesce(1)
    df.write.partitionBy("date_sk").parquet(str(out))
    data = sorted(out.glob("date_sk=*/*.parquet"))
    assert len(data) == 3
    for f in data:
        assert (f.parent / f".{f.name}.crc").is_file()
    for root, dirs, files in os.walk(out):
        for d in dirs:
            assert stat.S_IMODE(os.stat(os.path.join(root, d)).st_mode) == 0o777 & ~umask, d
        for f in files:
            assert stat.S_IMODE(os.stat(os.path.join(root, f)).st_mode) == 0o666 & ~umask, f


def test_flipped_data_page_byte_fails_the_read(spark, tmp_path):
    out = tmp_path / "t"
    spark.range(4096).selectExpr("rand(7) as v").coalesce(1).write.parquet(str(out))
    (victim,) = out.glob("*.parquet")
    col = pq.ParquetFile(victim).metadata.row_group(0).column(0)
    # the middle of the column chunk: page data, well before the footer
    pos = col.data_page_offset + col.total_compressed_size // 2
    with open(victim, "r+b") as f:
        f.seek(pos)
        b = f.read(1)
        f.seek(pos)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.parquet(str(out)).selectExpr("sum(v)").collect()


def test_set_permission_sets_exact_bits(spark, tmp_path):
    jvm, _, fs = _hadoop(spark)
    hfs = jvm.org.apache.hadoop.fs
    d, f = tmp_path / "d", tmp_path / "f"
    d.mkdir()
    f.write_bytes(b"x")
    for p, mode in ((d, "1777"), (f, "640")):
        fs.setPermission(hfs.Path(str(p)), hfs.permission.FsPermission(mode))
        assert stat.S_IMODE(os.stat(p).st_mode) == int(mode, 8), p


def test_jar_is_built_from_its_source(tmp_path):
    """Rebuild the committed source with the command in its header; the
    class bytes must equal the committed jar's entries."""
    if not shutil.which("javac"):
        pytest.skip("no JDK compiler on PATH")
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    subprocess.run(
        ["javac", "--release", "17", "-cp", jars, "-d", str(tmp_path),
         os.path.join(JVM_DIR, "NoForkLocalFileSystem.java")],
        check=True, timeout=300,
    )
    built = {
        str(p.relative_to(tmp_path)): p.read_bytes() for p in tmp_path.rglob("*.class")
    }
    with zipfile.ZipFile(session._NO_FORK_FS_JAR) as z:
        committed = {n: z.read(n) for n in z.namelist() if n.endswith(".class")}
    assert built and built == committed
