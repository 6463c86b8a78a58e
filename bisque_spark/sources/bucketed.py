"""Bucketed tables: co-located joins without a shuffle.

The canonical 100-TB strategy for a join both sides pay for
repeatedly (orders ⋈ lineitem on orderkey, frontier ⋈ seen on
url_hash): write both tables bucketed AND sorted on the join key with
the same bucket count, and every subsequent equi-join on that key is
planned WITHOUT an Exchange on either side — the bucket files are
already hash-partitioned and sorted, so SortMergeJoin reads them
co-located (and with sorted buckets, without a per-task Sort either).
One shuffle at write time amortizes over every downstream join/agg on
the key.

Spark-native mechanism (`DataFrameWriter.bucketBy` + `saveAsTable`,
hash = Murmur3 on the key, same function the shuffle uses) — no
reference analogue (the reference is single-process); this is engine
scale infrastructure like sources/catalog.py. The bucket spec lives in
table metadata, not in the files, so a bucketed directory is read by
registering it as an external session table (:func:`bucketed_table`):
Catalyst then knows the output partitioning and elides exchanges
automatically; nothing here hand-schedules. This module is the one
bucketed writer and reader; ``ParquetCatalog(bucket_by=)`` goes
through it.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, path: str, key: str, n: int) -> None:
    """Write ``df`` to the directory ``path`` as parquet hash-bucketed
    and bucket-sorted on ``key`` into ``n`` buckets. ``bucketBy`` only
    works through ``saveAsTable``, so the write goes through a throwaway
    EXTERNAL session table at ``path``; dropping it keeps the files,
    whose names carry the bucket ids a later scan recovers."""
    tmp = f"_bkt_stage_{uuid.uuid4().hex[:12]}"
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(int(n), key)
        .sortBy(key)
        .saveAsTable(tmp)
    )
    df.sparkSession.sql(f"DROP TABLE `{tmp}`")


def bucketed_table(
    spark: SparkSession, name: str, path: str, schema: str, key: str, n: int
) -> DataFrame:
    """(Re-)register the files :func:`write_bucketed` left at ``path``
    as the external bucketed session table ``name`` (DDL ``schema``)
    and return it. Works in a fresh session with an empty catalog — a
    resumed job's way back to a shuffle-free join. Equi-joins and aggs
    on ``key`` against another side with the same ``n`` plan without
    an Exchange on this side."""
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    spark.sql(
        f"CREATE TABLE `{name}` ({schema}) USING PARQUET "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {int(n)} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(name)
