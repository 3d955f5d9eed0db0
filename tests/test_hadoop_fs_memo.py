"""tables.hadoop_fs keeps one (FileSystem, Path class) per (SparkContext,
scheme://authority): paths of one file system share the handle, two
authorities never do, and a new SparkContext never gets a stopped one's."""

from __future__ import annotations

import subprocess
import sys

from apache_hive_1_2_2_src_spark.tables import _fs_key, hadoop_fs


def test_fs_key_splits_like_hadoop_path():
    assert _fs_key("s3a://a/x/y") == ("s3a", "a")
    assert _fs_key("S3A://A") == ("s3a", "a")
    assert _fs_key("file:/tmp/x") == ("file", "")
    assert _fs_key("file:///tmp/x") == ("file", "")
    assert _fs_key("/tmp/a:b/c") == ("", "")
    assert _fs_key("relative/a:b") == ("", "")


def test_authorities_never_share_a_handle(spark, tmp_path):
    # No S3 client is on the classpath: serve s3a:// from the local file
    # system, so that s3a://a and s3a://b are two authorities of one scheme.
    conf = spark._jsc.hadoopConfiguration()
    conf.set("fs.s3a.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    try:
        fs_a = hadoop_fs(spark, f"s3a://a{tmp_path}/one")[1]
        fs_a2 = hadoop_fs(spark, f"s3a://a{tmp_path}/two")[1]
        fs_b = hadoop_fs(spark, f"s3a://b{tmp_path}/one")[1]
    finally:
        conf.unset("fs.s3a.impl")
    fs_f = hadoop_fs(spark, f"file:{tmp_path}/one")[1]
    fs_f2 = hadoop_fs(spark, f"file:{tmp_path}/two")[1]
    assert fs_a.equals(fs_a2)
    assert fs_f.equals(fs_f2)
    assert not fs_a.equals(fs_b)
    assert not fs_a.equals(fs_f) and not fs_b.equals(fs_f)


# A SparkContext cannot be stopped under the suite's shared session, so the
# probe runs in a subprocess with its own JVM, as the hive tests do.
PROBE = r"""
import sys
sys.path.insert(0, ".")
from apache_hive_1_2_2_src_spark.session import get_session
from apache_hive_1_2_2_src_spark.tables import hadoop_fs


def session(name):
    spark = get_session("hadoop_fs_memo_probe", shuffle_partitions=1)
    conf = spark._jsc.hadoopConfiguration()
    conf.set("graft.test.context", name)
    # Bypass Hadoop's JVM-wide FileSystem cache: a lookup then builds a
    # FileSystem on this context's conf, so the handle names its context.
    conf.set("fs.file.impl.disable.cache", "true")
    return spark


spark = session("first")
old = hadoop_fs(spark, "file:/tmp")[1]
assert old.getConf().get("graft.test.context") == "first"
spark.stop()
spark = session("second")
new = hadoop_fs(spark, "file:/tmp")[1]
assert not new.equals(old)
assert new.getConf().get("graft.test.context") == "second"
assert hadoop_fs(spark, "file:/var")[1].equals(new)
spark.stop()
print("HADOOP_FS_MEMO_OK")
"""


def test_new_context_never_gets_a_stopped_contexts_handle():
    out = subprocess.run(
        [sys.executable, "-c", PROBE],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=".",
    )
    assert "HADOOP_FS_MEMO_OK" in out.stdout, out.stderr[-2000:]
