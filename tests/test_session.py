"""The session's internal codegen confs still mean something to Spark.

`spark.conf.get` echoes any string it was given, so it cannot tell a
recognized key from a dead one. The typed SQLConf accessors read the
value through the key's own definition: if a Spark upgrade drops or
renames the key, the accessor returns the default instead.
"""

from __future__ import annotations


def test_codegen_confs_recognized(spark):
    conf = spark.sparkContext._jvm.org.apache.spark.sql.internal.SQLConf.get()
    assert conf.methodSplitThreshold() == 256
    assert conf.codegenCacheMaxEntries() == 5000
