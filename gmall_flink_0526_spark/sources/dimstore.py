"""Dimension store — the K3/K4 sink family.

The reference upserts dim rows into HBase/Phoenix one record at a time
(``upsert into SCHEMA.tbl ...`` per record, commit per record —
RT/app/func/DimSinkFunction.java:31-70) after auto-creating the table
from routing config (RT/app/func/TableProcessFunction.java:71-131).

Spark-first replacement: a keyed parquet table per dim, maintained by
per-micro-batch MERGE semantics — read current, anti-join on pk,
union the batch, atomically swap. Idempotent by pk, so replays are
safe (the at-least-once -> exactly-once bridge, X5). The first MERGE
into a missing table creates it from the batch's columns — that is
the K4 auto-DDL; there is no separate create step. On a cluster this
is literally ``DeltaTable.merge``; plain parquet keeps the same
semantics in this container (no Delta jars) at the cost of rewriting
the (small) dim table per batch — dims are the broadcast-sized side by
definition, so that cost is bounded.

Reads for J3 enrichment go through :meth:`read`, re-scanned each
micro-batch — replacing the reference's Redis look-aside cache and its
invalidation (J4, RT/utils/DimUtil.java:52-60) outright.

Every filesystem operation (existence check, swap delete/rename) goes
through Hadoop's ``FileSystem`` (:mod:`..sources.fs`), exactly like
the incremental-dedup signature store: the dim store is persistent
mutable state, and on a cluster it lives on HDFS/S3/GCS where
``os.path``/``shutil`` silently act on the driver's local disk.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from . import fs as hfs


class DimStore:
    def __init__(self, root: str):
        # no eager mkdir: parquet writes create parents on any
        # Hadoop-supported filesystem
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _published(self, spark: SparkSession, table: str) -> str:
        """The table's path, after finishing a swap a crash cut short.

        :meth:`merge` writes the merged table to ``<p>.tmp``, deletes
        ``p`` and renames. A crash between the delete and the rename
        leaves only a complete ``.tmp`` (its ``_SUCCESS`` marker is
        written last); publishing it here keeps every earlier row. A
        ``.tmp`` without ``_SUCCESS`` is a write cut short before ``p``
        was touched; the next merge overwrites it."""
        p = self.path(table)
        tmp = p + ".tmp"
        if not hfs.exists(spark, p) and hfs.exists(spark, os.path.join(tmp, "_SUCCESS")):
            hfs.rename(spark, tmp, p)
        return p

    def merge(
        self,
        spark: SparkSession,
        batch: DataFrame,
        table: str,
        pk: str,
        seq_col: str | None = None,
    ) -> None:
        """K3 — upsert by pk: last-writer-wins within the batch, batch
        rows replace existing rows with the same pk.

        ``seq_col`` names a column carrying source order (CDC
        offset/ts, stamped before any shuffle); the highest value per
        pk wins, matching :func:`..sources.cdc.apply_changes`. Without
        it we fall back to ``monotonically_increasing_id`` — only safe
        when ``batch`` hasn't been shuffled since it left the source,
        since the id reflects current partition layout, not arrival.
        The seq column is consumed here and not written to the store.

        K4 — a missing table is created by this MERGE with the batch's
        columns (the reference generates Phoenix DDL first); a batch
        with a new column widens the stored table, earlier rows reading
        NULL there.
        """
        p = self._published(spark, table)
        # dedupe the batch on pk (keep the highest-seq = latest CDC row)
        if seq_col is None:
            batch = batch.withColumn("_seq", F.monotonically_increasing_id())
            seq_col = "_seq"
        w_batch = (
            batch.withColumn(
                "_rn", F.row_number().over(W.partitionBy(pk).orderBy(F.col(seq_col).desc()))
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", seq_col)
        )
        if hfs.exists(spark, p):
            current = spark.read.parquet(p)
            keep = current.join(w_batch.select(pk), on=pk, how="left_anti")
            merged = keep.unionByName(w_batch, allowMissingColumns=True)
        else:
            merged = w_batch
        # write-aside + swap: the merged plan READS p, so it must fully
        # materialize to tmp before p is replaced (on Delta this whole
        # method is a single MERGE INTO and the swap disappears)
        tmp = p + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        hfs.delete(spark, p)
        hfs.rename(spark, tmp, p)

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self._published(spark, table))
