"""Structured-Streaming adaptation of the validation engine.

The reference is batch-only (no watermarks/windows/state anywhere —
SURVEY.md §2.7), and the compiled rule trees are stateless per-row Column
expressions, so they lift onto readStream unchanged. This module adds the
streaming-only surface: event-time windowed verdict summaries with
watermarked late-data handling, and a foreachBatch sink that reuses the
batch runner's verdict-table layout (so a streaming deployment and a batch
backfill write the same tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from xema_spark import runner
from xema_spark.compiler import validate_df
from xema_spark.rules import meta_validate, normalize_rule


def windowed_verdict_summary(stream_df: DataFrame, rule: dict, ts_col: str,
                             window: str = "1 minute",
                             watermark: str = "2 minutes") -> DataFrame:
    """Per event-time window pass/fail counts with late-data watermark —
    the streaming analogue of stats.per_partition_summary."""
    v = validate_df(stream_df, rule, mode="violations")
    return (v.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(F.col("valid").cast("long")).alias("n_valid"),
                 F.sum(F.size("violations")).alias("n_violations"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_rows", "n_valid", "n_violations"))


def stateful_key_verdicts(stream_df: DataFrame, rule: dict,
                          key_col: str = "source"):
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-key validation counters maintained ACROSS micro-batches — the
    arbitrary-state surface the windowed summary can't express (cumulative
    totals, not per-window). State is one (n_rows, n_valid) pair per key;
    each trigger emits the key's updated lifetime totals.

    Batches arrive as Arrow frames (never per-row Python); state is scoped
    per key group, so a hot key costs one group, not a shuffle explosion.
    The reference has no streaming surface (SURVEY.md §2.7) — this is the
    engine's Spark-native extension."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    v = validate_df(stream_df, rule, mode="verdict") \
        .select(F.col(key_col).cast("string").alias("key"), "valid")

    def update(key, pdfs, state: GroupState):
        n_rows = n_valid = 0
        for pdf in pdfs:
            n_rows += len(pdf)
            n_valid += int(pdf["valid"].fillna(False).sum())
        if state.exists:
            pr, pv = state.get
            n_rows += pr
            n_valid += pv
        state.update((n_rows, n_valid))
        yield pd.DataFrame([{"key": key[0], "n_rows": n_rows,
                             "n_valid": n_valid,
                             "n_invalid": n_rows - n_valid}])

    return v.groupBy("key").applyInPandasWithState(
        update,
        outputStructType="key string, n_rows long, n_valid long, n_invalid long",
        stateStructType="n_rows long, n_valid long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class StreamDriftError(RuntimeError):
    """A micro-batch drifted past tolerance against the baseline profile
    while fail_on_drift=True — raised INSIDE the foreachBatch sink, which
    fails the streaming query before the batch's verdicts commit."""


def stream_to_verdict_tables(stream_df: DataFrame, rule: dict, output_dir: str,
                             checkpoint_dir: str, n_buckets: int = 64,
                             profile_cols: list[str] | None = None,
                             drift_baseline_run: str | None = None,
                             fail_on_drift: bool = False,
                             drift_exclude_metrics: tuple[str, ...] | None = None):
    """foreachBatch sink writing the SAME layout and commit protocol as
    runner.run_validation — verdicts under verdicts/run_id=<id>/bucket=<b>/
    with a lineage row per committed micro-batch — so streaming ingest and
    batch backfill genuinely share consumers: runner.read_verdicts sees both.

    Exactly-once visibility on top of foreachBatch's at-least-once replay:
    each micro-batch commits under run_id '<stream-b{batch_id}>-<uuid>'.
    A replay after a crash BEFORE the lineage append writes fresh files
    under a new uuid and the dead attempt's orphans stay invisible (the
    batch runner's crash-window rule). A replay after a crash AFTER the
    lineage append but before the checkpoint advanced is detected by the
    batch-id prefix already existing in the lineage and skipped.

    Continuous drift gating (the streaming analogue of
    run_validation(profile_cols=, drift_baseline_run=)): with profile_cols
    set, every micro-batch is additionally profiled (stats.stats_profile,
    one agg pass over the batch) into the shared stats sidecar; with
    drift_baseline_run also set — typically a batch backfill's run_id in the
    SAME output_dir — each batch's profile is scored by stats.drift_report
    and the verdict rows land under drift/. The gate runs BEFORE the batch's
    verdicts commit, so fail_on_drift=True turns it into a true admission
    gate: a drifted batch raises StreamDriftError, the query fails, and
    nothing from that batch becomes visible to read_verdicts.

    drift_exclude_metrics defaults to stats.SCALE_DEPENDENT_METRICS
    (row_count, distinct_ratio): a micro-batch is legitimately much smaller
    than the backfill corpus it gates against, so size-based scores would
    flag every healthy batch. Pass () to re-enable them when the baseline
    IS a representative batch profile rather than a full-corpus one.

    Returns the configured DataStreamWriter — the caller picks the trigger
    and calls .start() (e.g. `.trigger(availableNow=True).start()`), which
    keeps trigger policy out of the library."""
    runner._check_drift_args(fail_on_drift, profile_cols, drift_baseline_run)
    rule_n = normalize_rule(rule)
    meta_validate(rule_n)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_micro_batch(batch_df, batch_id, rule_n, output_dir, n_buckets,
                           profile_cols=profile_cols,
                           drift_baseline_run=drift_baseline_run,
                           fail_on_drift=fail_on_drift,
                           drift_exclude_metrics=drift_exclude_metrics)

    return (stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir))


def commit_micro_batch(batch_df: DataFrame, batch_id: int, rule: dict,
                       output_dir: str, n_buckets: int = 64,
                       profile_cols: list[str] | None = None,
                       drift_baseline_run: str | None = None,
                       fail_on_drift: bool = False,
                       drift_exclude_metrics: tuple[str, ...] | None = None
                       ) -> str | None:
    """One micro-batch through the batch runner's commit protocol. Returns
    the committed run_id, or None when this batch_id was already committed
    (foreachBatch replay after a crash past the lineage append). Module-level
    so the replay-idempotence path is directly testable.

    Profile/drift sidecars are keyed by the DETERMINISTIC batch prefix
    (stream-b<id>), not the per-attempt uuid run_id, and written with
    partition overwrite: a replayed attempt rewrites the same partition
    bit-for-bit instead of orphaning rows under a dead uuid. The drift gate
    evaluates BEFORE the verdict write — with fail_on_drift a drifted batch
    never commits. Missing/partial baseline fails closed (ValueError), same
    as the batch runner."""
    import os
    import uuid

    # checked ABOVE the profile block: a direct call with fail_on_drift=True
    # and no profile_cols would otherwise skip the whole gate
    runner._check_drift_args(fail_on_drift, profile_cols, drift_baseline_run)
    rule_n = normalize_rule(rule)
    spark = batch_df.sparkSession
    prefix = f"stream-b{batch_id:09d}"
    # the '-' terminator makes the check exact: without it, batch id
    # 1_000_000_000 (which outgrows the 9-digit padding) would prefix-match
    # batch 100_000_000's rows and be silently dropped
    lineage = runner._read_written(spark, os.path.join(output_dir, "lineage"))
    if lineage is not None and (lineage
                                .filter(F.col("run_id").startswith(prefix + "-"))
                                .limit(1).count() > 0):
        return None  # replayed micro-batch that was fully committed

    if profile_cols:
        from xema_spark import stats as _stats

        # a typo'd drift_baseline_run fails on the stream's FIRST trigger,
        # empty or not; an EMPTY micro-batch (recovery trigger, no new
        # files) is then skipped, and a drifted one raises before its write
        excl = (_stats.SCALE_DEPENDENT_METRICS if drift_exclude_metrics is None
                else drift_exclude_metrics)
        drifted = _stats.profile_and_score(
            batch_df, profile_cols, output_dir, prefix, drift_baseline_run,
            exclude_metrics=excl, skip_empty=True)
        if fail_on_drift and drifted:
            raise StreamDriftError(
                f"micro-batch {batch_id} drifted vs baseline "
                f"{drift_baseline_run!r} on {drifted}; verdicts NOT committed")

    run_id = f"{prefix}-{uuid.uuid4().hex[:6]}"
    elapsed = runner._write_verdicts(batch_df, rule_n, output_dir, run_id,
                                     n_buckets, n_buckets)
    runner.commit_lineage(spark, output_dir, run_id, elapsed)
    return run_id


# ---------------------------------------------------------------------------
# streaming ingestion dedup over a persisted signature store
# ---------------------------------------------------------------------------

def commit_ingest_batch(batch_df: DataFrame, batch_id: int, store_dir: str,
                        survivors_dir: str, id_col: str = "doc_id",
                        text_col: str = "text", **kw) -> bool:
    """One micro-batch through the ingestion-dedup commit protocol. Returns
    False when this batch_id was already committed (foreachBatch replay past
    the store append). Module-level so the replay path is directly testable,
    and callable from a scheduled batch loop with a monotonically increasing
    batch_id — the streaming sink and a batch backfill share the store.

    Protocol (exactly-once visibility on at-least-once replay):
    - The STORE APPEND is the commit point: surviving signatures land in
      store_dir tagged with an `ingest_batch` column, written LAST. The
      parquet job commit is atomic (file-output-committer: task output is
      invisible until job commit), so a crashed attempt contributes zero
      store rows and its replay recomputes from the same prior store.
    - Replay detection: rows with this ingest_batch already in the store
      => the batch fully committed (survivors were written before the
      append) => skip. A batch that admitted ZERO docs leaves no store
      rows to detect, so its replay recomputes — still exactly-once
      visible, by determinism instead of detection (same prior store,
      same empty outcome, overwrite rewrites the same empty partition).
    - Survivors go under survivors_dir/batch=<id>/ with mode=overwrite:
      a replayed attempt rewrites the partition bit-for-bit (the dedup is
      deterministic given the same prior store) instead of duplicating it.
    - The prior store is read as `ingest_batch < batch_id` — self-healing
      for manual re-runs, and a no-op under a checkpointed stream (later
      batches cannot exist when an earlier one replays).

    The dedup itself is dedup.ingest_batch_sig; its signature frame is
    localCheckpoint-ed so the whole dedupe DAG evaluates ONCE and both
    writes (survivors, store rows) read the materialized result."""
    import os

    from xema_spark import dedup

    store = runner._read_written(batch_df.sparkSession, store_dir)
    if store is not None:
        if (store.filter(F.col("ingest_batch") == batch_id)
                .limit(1).count() > 0):
            return False
        prior = store.filter(F.col("ingest_batch") < batch_id) \
            .drop("ingest_batch")
    else:
        prior = None
    _, sigs = dedup.ingest_batch_sig(batch_df, prior, id_col, text_col, **kw)
    sigs = sigs.localCheckpoint()
    survivors = batch_df.join(sigs.select(F.col("doc").alias(id_col)),
                              id_col, "semi")
    (survivors.write.mode("overwrite")
     .parquet(os.path.join(survivors_dir, f"batch={batch_id:09d}")))
    # partitioned by ingest_batch: both per-batch store reads (the replay
    # probe `== batch_id` and the prior filter `< batch_id`) prune to
    # directories instead of footer-reading every file the store has ever
    # appended — without this, per-batch latency grows with store age
    (sigs.withColumn("ingest_batch", F.lit(batch_id))
     .write.mode("append").partitionBy("ingest_batch").parquet(store_dir))
    return True


def ingest_dedup_stream(stream_df: DataFrame, store_dir: str,
                        survivors_dir: str, checkpoint_dir: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        **kw):
    """Streaming ingestion dedup: each micro-batch is deduped against the
    persisted signature store (exact + MinHash-estimated near-dup,
    dedup.ingest_batch_sig) and within itself; survivors land under
    survivors_dir/batch=<id>/ and their signatures append to the store —
    so the stream's output is globally deduped ACROSS micro-batches
    without ever re-reading corpus text (the store is ~(32+8k) bytes/doc).

    kw passes through to ingest_batch_sig (n, k, bands, threshold,
    max_bucket, max_shingles, hash_fn, transitive) — the store and every
    batch MUST use one parameter set or buckets/signatures stop being
    comparable; persist the choice next to the store.

    Returns the configured DataStreamWriter — the caller picks the trigger
    and calls .start() (e.g. .trigger(availableNow=True).start()), same
    contract as stream_to_verdict_tables."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_ingest_batch(batch_df, batch_id, store_dir, survivors_dir,
                            id_col, text_col, **kw)

    return (stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir))
