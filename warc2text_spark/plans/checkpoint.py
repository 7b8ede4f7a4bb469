"""Resumable batch execution: bucket ledger + per-partition lineage/metrics.

The reference has no resume story — a killed run reprocesses whole WARCs
(SURVEY.md §4).  At 10^12 documents that is not acceptable, so the batch
runner shards the corpus into ``num_buckets`` deterministic buckets by
``xxhash64(doc_id)`` (also the skew-defusing salt key), processes them in
waves, and records a ledger row per completed bucket.  A restart anti-joins
the ledger and only runs missing buckets; output is partitioned by
``bucket`` so completed work is never rewritten.

Per-bucket ledger rows double as the lineage manifest + extraction metrics
(records in/out, language histogram, byte counters) required by the north
rule; they land in ``<out>/_ledger`` (parquet, append-only) and per-wave
run counters in ``<out>/_metrics``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import PipelineOptions, explode_by_lang, run_pipeline

LEDGER_SCHEMA = ("bucket int, n_input bigint, n_kept bigint, n_lang_rows bigint, "
                 "text_bytes bigint, wave int, run_id string")


@dataclass
class BatchJobConfig:
    out_dir: str
    num_buckets: int = 64
    waves: int = 8
    run_id: str = "run0"
    salt: int = 0
    options: PipelineOptions | None = None
    # stop after this many waves (None = run all): bounds work per
    # invocation for cron-style runners and lets tests simulate a crash
    # between waves without faking the input
    stop_after_waves: int | None = None


def with_bucket(df: DataFrame, num_buckets: int, salt: int = 0) -> DataFrame:
    return df.withColumn(
        "bucket",
        F.pmod(F.xxhash64(F.col("doc_id"), F.lit(salt)), F.lit(num_buckets))
        .cast("int"))


def completed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    try:
        rows = spark.read.parquet(f"{out_dir}/_ledger") \
            .select("bucket").distinct().collect()
        return {r.bucket for r in rows}
    except Exception:
        return set()


def run_batch(spark: SparkSession, df: DataFrame, cfg: BatchJobConfig) -> dict:
    """Process all not-yet-completed buckets in waves; returns a summary.

    Each wave is one Spark job: filter to the wave's buckets -> pipeline ->
    append output partitioned by (bucket, lang) -> append ledger rows.
    A crash between waves loses at most one wave of work; a crash *during*
    a wave leaves no ledger rows for it, so the restart redoes the wave and
    overwrites its partitions (dynamic partition overwrite keeps completed
    buckets intact).  Known edge: if a crashed wave had written partial
    files for a bucket whose re-run keeps zero documents, the partial
    (bucket, lang) partitions are not overwritten — consumers should treat
    buckets absent from the ledger as invalid (the ledger is the commit
    record, not the directory listing).
    """
    opts = cfg.options or PipelineOptions()
    done = completed_buckets(spark, cfg.out_dir)
    todo = [b for b in range(cfg.num_buckets) if b not in done]
    bucketed = with_bucket(df, cfg.num_buckets, cfg.salt)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    waves_run = 0
    buckets_done = 0
    per_wave = max(1, (len(todo) + cfg.waves - 1) // max(cfg.waves, 1))
    for w in range(0, len(todo), per_wave):
        if cfg.stop_after_waves is not None and waves_run >= cfg.stop_after_waves:
            break
        wave_buckets = todo[w:w + per_wave]
        wave_df = bucketed.filter(F.col("bucket").isin(wave_buckets))
        res = run_pipeline(wave_df.drop("bucket"), opts)
        from .pipeline import partition_safe_lang
        rows = partition_safe_lang(explode_by_lang(res.main))
        rows = with_bucket(rows, cfg.num_buckets, cfg.salt)
        # the wave's extracted rows feed the write AND three aggregations;
        # without a persist each of those re-runs the extraction kernel
        rows = rows.persist()
        (rows.write.mode("overwrite").partitionBy("bucket", "lang")
             .parquet(f"{cfg.out_dir}/text"))

        # lineage manifest + metrics per bucket, from the persisted rows
        # (n_input needs the pre-kernel frame — scan+filters only, cheap).
        # Left-join from the wave's full bucket list so a bucket whose wave
        # yields zero prefiltered rows still gets a ledger row (n_input=0)
        # and is marked complete — otherwise sparse/fully-filtered buckets
        # are reprocessed on every restart.
        attempted = spark.createDataFrame(
            [(int(b),) for b in wave_buckets], "bucket int")
        inputs = attempted.join(
            with_bucket(res.prefiltered.select("doc_id"),
                        cfg.num_buckets, cfg.salt)
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_input")),
            "bucket", "left").na.fill({"n_input": 0})
        kept = rows.groupBy("bucket").agg(
            F.count_distinct("doc_id").alias("n_kept"),
            F.count(F.lit(1)).alias("n_lang_rows"),
            F.sum(F.octet_length("chunk")).alias("text_bytes"))
        ledger = (inputs.join(kept, "bucket", "left")
                  .na.fill(0)
                  .withColumn("wave", F.lit(waves_run))
                  .withColumn("run_id", F.lit(cfg.run_id))
                  .select("bucket", "n_input", "n_kept", "n_lang_rows",
                          "text_bytes", "wave", "run_id"))
        ledger.write.mode("append").parquet(f"{cfg.out_dir}/_ledger")

        # per-lang histogram for this wave -> metrics table
        hist = rows.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.octet_length("chunk")).alias("lang_bytes")) \
            .withColumn("wave", F.lit(waves_run)) \
            .withColumn("run_id", F.lit(cfg.run_id))
        hist.write.mode("append").parquet(f"{cfg.out_dir}/_metrics")
        rows.unpersist()
        waves_run += 1
        buckets_done += len(wave_buckets)

    return {
        "buckets_total": cfg.num_buckets,
        "buckets_skipped": len(done),
        # only buckets actually covered by executed waves — with
        # stop_after_waves the remainder stays pending for the next run
        "buckets_processed": buckets_done,
        "buckets_pending": len(todo) - buckets_done,
        "waves_run": waves_run,
    }
