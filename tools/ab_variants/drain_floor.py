"""A/B: streaming drain floor — schema-peek cache + coalesced memory-table
read (new, code as committed) vs the r14 shape (old: schema re-read per
call, memory table returned un-coalesced). The old variant monkeypatches
run_to_memory back to the r14 body and clears the schema cache before each
call; both variants run the same three drains end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

import kinesis3_spark.streaming.sources as S
import kinesis3_spark.streaming.run as R
import kinesis3_spark.queries.streamq as Q
from kinesis3_spark import tmpdirs
import os

_NEW_RUN = R.run_to_memory
_ORIG_SCHEMA = S.parquet_schema


def _old_run_to_memory(sdf, output_mode="append", timeout_s=300,
                       state_partitions=4, final_no_data_batch=True):
    """r14 body: identical confs, but returns spark.table(name) uncoalesced."""
    name = f"stream_result_old_{next(R._MEM_IDS)}"
    spark = sdf.sparkSession
    ck_parent = "/dev/shm" if os.path.isdir("/dev/shm") else None
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_ndb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    if not final_no_data_batch:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", tmpdirs.mkdtemp(prefix="ck_", dir=ck_parent))
            .trigger(availableNow=True)
            .start()
        )
        R.await_or_raise(q, timeout_s)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old_ndb)
    return spark.table(name)


def _drains(spark, sf_dir) -> DataFrame:
    a = Q.stream_tumbling(spark, sf_dir)
    b = Q.stream_stateful(spark, sf_dir)
    c = Q.stream_stream_join(spark, sf_dir)
    return (
        a.groupBy().count()
        .unionByName(b.groupBy().count())
        .unionByName(c.groupBy().count())
    )


def _uncached_schema(spark, path):
    return spark.read.parquet(path).schema


def old(spark, sf_dir):
    Q.run_to_memory = _old_run_to_memory
    S.parquet_schema = _uncached_schema
    try:
        return _drains(spark, sf_dir)
    finally:
        Q.run_to_memory = _NEW_RUN
        S.parquet_schema = _ORIG_SCHEMA


def new(spark, sf_dir):
    return _drains(spark, sf_dir)


VARIANTS = {"old": old, "new": new}
