"""Checkpointed, idempotently-resumable batch runs (BASELINE.json
north_rule: 'resumable from checkpoint with per-partition lineage').

Model: the input is bucketed by ``pmod(xxhash64(conv_id), n_buckets)``.
A watermark table (parquet, Iceberg-ready) records ``(run_id, bucket)``
rows once a bucket's output has been durably written.  On (re)start the
planner diff's all-buckets minus committed-buckets and processes only the
remainder; the output write uses dynamic partition overwrite
(``partitionOverwriteMode=dynamic``) keyed by the bucket column, so
re-processing a bucket that crashed mid-write simply overwrites its
partition — end state is identical to a single clean run (idempotence).

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


@dataclass
class CheckpointedRun:
    run_id: str
    output_path: str
    watermark_path: str
    n_buckets: int = 16

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("bucket", conv_bucket(self.n_buckets))

    def committed_buckets(self, spark: SparkSession) -> set[int]:
        """Buckets watermarked for this run.  A watermark table with no
        data files — missing, or left empty by a crash inside the first
        commit — means nothing is committed; any other read failure (a
        corrupt or unreadable table) raises rather than silently
        rerunning every bucket."""
        try:
            wm = spark.read.parquet(self.watermark_path)
        except AnalysisException as exc:
            if exc.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                return set()
            raise
        rows = wm.filter(F.col("run_id") == self.run_id).select("bucket").collect()
        return {r.bucket for r in rows}

    def pending_buckets(self, spark: SparkSession) -> list[int]:
        done = self.committed_buckets(spark)
        return [b for b in range(self.n_buckets) if b not in done]

    def _commit(self, spark: SparkSession, buckets: list[int]) -> None:
        rows = [(self.run_id, int(b)) for b in buckets]
        spark.createDataFrame(rows, "run_id string, bucket int").coalesce(1).write.mode(
            "append"
        ).parquet(self.watermark_path)

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

        ``post_write(out_df, wave)`` — optional per-wave hook (audit
        writes); ``wave`` is the bucket list, so the hook can key its own
        writes idempotently per wave (plans/audit.write_audit does).  The
        wave's corrected frame is persisted across the output write and the
        hook, so the expensive correction UDF executes ONCE per wave: the
        write materializes the cache, the hook's actions read it.  (Calling
        audit writes inside ``transform`` instead would re-execute the full
        pipeline once per extra action — a 3x compute bill at scale.)"""
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
            subset = bucketed.filter(F.col("bucket").isin([int(b) for b in wave]))
            out = transform(subset)
            if post_write is not None:
                out = out.persist()
            try:
                (
                    out.write.mode("overwrite")
                    .partitionBy("bucket")
                    .parquet(self.output_path)
                )
                if post_write is not None:
                    post_write(out, wave)
            finally:
                if post_write is not None:
                    out.unpersist()
            self._commit(spark, wave)
            completed += len(wave)
        return completed
