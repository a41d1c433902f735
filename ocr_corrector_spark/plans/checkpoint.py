"""Checkpointed, idempotently-resumable batch runs (BASELINE.json
north_rule: 'resumable from checkpoint with per-partition lineage').

Model: the input is bucketed by ``pmod(xxhash64(conv_id), n_buckets)``
and each bucket is one output partition.  Buckets run in waves; after a
wave's output write, its ledger rows (plans/audit.write_audit: one row
per bucket with its counts, read back from the files just written) are
the commit: a bucket is committed if and only if its ledger row exists.
On (re)start the planner diffs all buckets minus committed buckets and
processes only the remainder; the output write uses dynamic partition
overwrite (``partitionOverwriteMode=dynamic``) keyed by the bucket
column, so re-processing a bucket that crashed before its ledger row
landed simply overwrites its partition — end state is identical to a
single clean run (idempotence).

At cluster scale each wave is sized to executor memory; buckets give the
resume granularity that Spark's own task retry does not (driver loss,
whole-job kill).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.bucketing import conv_bucket
from .audit import write_audit


@dataclass
class CheckpointedRun:
    run_id: str
    output_path: str
    watermark_path: str
    n_buckets: int = 16

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("bucket", conv_bucket(self.n_buckets))

    def committed_buckets(self, spark: SparkSession) -> set[int]:
        """Buckets with a ledger row for this run.  A ledger with no data
        files — missing, or left empty by a crash inside the first
        commit — means nothing is committed; any other read failure (a
        corrupt or unreadable table, or one in another layout) raises
        rather than silently rerunning every bucket."""
        try:
            wm = spark.read.parquet(self.watermark_path)
        except AnalysisException as exc:
            if exc.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                return set()
            raise
        # partition discovery may type a run id such as "7" as a number
        rows = wm.filter(F.col("run_id").cast("string") == self.run_id).select("bucket").collect()
        return {r.bucket for r in rows}

    def pending_buckets(self, spark: SparkSession) -> list[int]:
        done = self.committed_buckets(spark)
        return [b for b in range(self.n_buckets) if b not in done]

    def run(
        self,
        spark: SparkSession,
        df: DataFrame,
        transform,
        wave_size: int | None = None,
        max_waves: int | None = None,
        post_write=None,
    ) -> int:
        """Process pending buckets in waves; returns #buckets completed this
        call.  ``transform(df) -> df`` is the correction pipeline.
        ``max_waves`` lets tests simulate a mid-run crash.

        Each wave writes its buckets to ``output_path``, reads them back
        (a partition-pruned parquet scan of the files the write just
        made, so the expensive correction UDF executes ONCE per wave: in
        the write), and commits them by writing their ledger rows to
        ``watermark_path`` from that read-back.  ``post_write(out_df,
        wave)`` — an optional hook over the same read-back — runs before
        the commit, so a hook that raises leaves its wave pending."""
        # Idempotence depends on DYNAMIC partition overwrite: with the
        # default static mode every wave's write would wipe the buckets
        # committed by earlier waves.  The session a cluster submit hands
        # us need not have it set, so enforce it here.
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        bucketed = self.with_bucket(df)
        pending = self.pending_buckets(spark)
        if not pending:
            return 0
        wave_size = wave_size or max(1, len(pending) // 4)
        waves = [
            pending[i : i + wave_size] for i in range(0, len(pending), wave_size)
        ]
        if max_waves is not None:
            waves = waves[:max_waves]
        completed = 0
        for wave in waves:
            in_wave = F.col("bucket").isin([int(b) for b in wave])
            out = transform(bucketed.filter(in_wave))
            out.write.mode("overwrite").partitionBy("bucket").parquet(self.output_path)
            # out's schema: no footer inference, and a wave whose buckets
            # wrote no rows reads back empty
            written = spark.read.schema(out.schema).parquet(self.output_path).filter(in_wave)
            if post_write is not None:
                post_write(written, wave)
            write_audit(written, self.run_id, self.watermark_path, wave)
            completed += len(wave)
        return completed
