"""Structured-Streaming adaptation: file-source stream -> validated verdicts
-> windowed summary / verdict-table sink, with availableNow trigger."""

from __future__ import annotations

from pyspark.sql import functions as F

from xema_spark.datagen import FLAGSHIP_RULE, gen_documents
from xema_spark.compiler import validate_df
from xema_spark.streaming import stream_to_verdict_tables, windowed_verdict_summary

N = 600


def test_stream_validation_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    docs = gen_documents(spark, N, with_expectations=True)
    docs.write.parquet(src)
    schema = spark.read.parquet(src).schema

    stream = spark.readStream.schema(schema).parquet(src)
    v = validate_df(stream.select("doc_id", "spans", "expected_valid"), FLAGSHIP_RULE)
    q = (v.writeStream.format("memory").queryName("verdicts_mem")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from verdicts_mem")
    assert got.count() == N
    assert got.filter(F.col("valid") != F.col("expected_valid")).count() == 0


def test_windowed_summary_and_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    # event time correlates with file order so the watermark advances across
    # micro-batches (append mode only emits a window once the watermark
    # passes it — a single availableNow batch would emit nothing)
    docs = gen_documents(spark, N).withColumn(
        "ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")) +
        F.make_interval(secs=F.pmod(F.xxhash64("doc_id"), F.lit(180)).cast("int")))
    docs.orderBy("ts").coalesce(1).write.parquet(src)
    late = gen_documents(spark, 50).withColumn(
        "ts", F.to_timestamp(F.lit("2026-01-01 00:10:00")))
    late.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    summary = windowed_verdict_summary(stream, FLAGSHIP_RULE, "ts", window="1 minute")
    q = (summary.writeStream.format("memory").queryName("win_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # watermark append-mode only emits closed windows; with availableNow the
    # final watermark closes all but possibly the last -> at least 2 of 3
    rows = spark.sql("select * from win_mem").collect()
    assert sum(r["n_rows"] for r in rows) >= N // 3
    assert all(r["n_valid"] + (r["n_rows"] - r["n_valid"]) == r["n_rows"] for r in rows)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q2 = stream_to_verdict_tables(stream.select("doc_id", "spans"), FLAGSHIP_RULE,
                                  out, ckpt, n_buckets=4) \
        .trigger(availableNow=True).start()
    q2.awaitTermination(120)
    verd = spark.read.parquet(f"{out}/verdicts")
    assert verd.count() == N + 50
    assert set(r["bucket"] for r in verd.select("bucket").distinct().collect()) <= {0, 1, 2, 3}

    # the streaming sink shares the batch runner's commit protocol: every
    # written row is lineage-committed, so read_verdicts (the batch
    # consumer) sees ALL streaming rows, with per-micro-batch run_ids
    from xema_spark.runner import read_verdicts

    committed = read_verdicts(spark, out)
    assert committed.count() == N + 50
    run_ids = {r["run_id"] for r in committed.select("run_id").distinct().collect()}
    assert all(r.startswith("stream-b") for r in run_ids)
    # maxFilesPerTrigger=1 over 2 files -> 2 micro-batches, each committed
    assert len(run_ids) == 2
    # schema parity with the batch layout (media_refs/n_bytes included)
    assert {"doc_id", "bucket", "valid", "violations",
            "media_refs", "n_bytes", "run_id"} <= set(committed.columns)


def test_stateful_key_verdicts(spark, tmp_path):
    """applyInPandasWithState: per-key counters accumulate across
    micro-batches; the final update per key equals the batch totals."""
    from xema_spark.streaming import stateful_key_verdicts

    src = str(tmp_path / "src_state")
    docs = gen_documents(spark, N, with_expectations=True) \
        .withColumn("grp", F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("string"))
    half = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    other = docs.subtract(half)
    half.coalesce(1).write.parquet(src)
    other.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src).select("doc_id", "spans", "grp"))
    out = stateful_key_verdicts(stream, FLAGSHIP_RULE, key_col="grp")
    q = (out.writeStream.format("memory").queryName("state_mem")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)

    # last update per key == lifetime totals == batch ground truth
    got = spark.sql("""
        select key, max_by(n_rows, n_rows) n_rows, max_by(n_valid, n_rows) n_valid
        from state_mem group by key""").collect()
    from xema_spark.compiler import validate_df
    truth = {r["grp"]: (r["n"], r["v"]) for r in
             validate_df(docs.select("doc_id", "spans", "grp"), FLAGSHIP_RULE,
                         mode="verdict")
             .groupBy("grp").agg(F.count(F.lit(1)).alias("n"),
                                 F.sum(F.col("valid").cast("long")).alias("v"))
             .collect()}
    assert len(got) == 4
    for r in got:
        assert (r["n_rows"], r["n_valid"]) == truth[r["key"]]


def test_micro_batch_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed batch_id whose lineage
    already landed must be skipped (no duplicate rows in the committed
    view); a crash BEFORE the lineage append leaves orphans invisible and
    a reattempt under the same batch_id commits cleanly."""
    from xema_spark.runner import read_verdicts
    from xema_spark.streaming import commit_micro_batch

    out = str(tmp_path / "replay_out")
    docs = gen_documents(spark, 100).select("doc_id", "spans")

    rid1 = commit_micro_batch(docs, 0, FLAGSHIP_RULE, out, n_buckets=4)
    assert rid1 and rid1.startswith("stream-b000000000-")
    assert read_verdicts(spark, out).count() == 100

    # full replay of the same batch_id -> detected via lineage, skipped
    assert commit_micro_batch(docs, 0, FLAGSHIP_RULE, out, n_buckets=4) is None
    assert read_verdicts(spark, out).count() == 100

    # crash-window simulation for batch 1: verdicts written, no lineage
    from pyspark.sql import functions as F2

    from xema_spark.compiler import compile_rule
    from xema_spark.rules import normalize_rule
    from xema_spark.runner import enrich_verdicts
    from pyspark.sql import types as T2
    rule_n = normalize_rule(FLAGSHIP_RULE)
    dtype = T2.StructType([T2.StructField(f.name, f.dataType) for f in docs.schema.fields])
    compiled = compile_rule(rule_n, F2.struct(*[F2.col(c) for c in docs.columns]), dtype)
    (enrich_verdicts(docs, compiled, 4)
     .withColumn("run_id", F2.lit("stream-b000000001-dead00"))
     .repartition(4, "bucket")
     .write.mode("append").partitionBy("run_id", "bucket")
     .parquet(f"{out}/verdicts"))
    assert read_verdicts(spark, out).count() == 100  # orphans invisible

    # reattempt commits under a fresh uuid; orphan stays invisible
    rid2 = commit_micro_batch(docs, 1, FLAGSHIP_RULE, out, n_buckets=4)
    assert rid2 and rid2 != "stream-b000000001-dead00"
    assert read_verdicts(spark, out).count() == 200


def test_empty_micro_batch_does_not_crash(spark, tmp_path):
    """A zero-row first micro-batch (recovery/watermark-only/empty source)
    must not kill the stream: the commit is a no-op and a following
    non-empty batch commits normally."""
    from xema_spark.runner import read_verdicts
    from xema_spark.streaming import commit_micro_batch

    out = str(tmp_path / "empty_out")
    docs = gen_documents(spark, 50).select("doc_id", "spans")
    commit_micro_batch(docs.limit(0), 0, FLAGSHIP_RULE, out, n_buckets=4)
    rid = commit_micro_batch(docs, 1, FLAGSHIP_RULE, out, n_buckets=4)
    assert rid is not None
    assert read_verdicts(spark, out).count() == 50


def test_micro_batch_commit_reads_only_its_own_partition(spark, tmp_path, monkeypatch):
    """The commit aggregates its run's verdicts/run_id=<id> partition by
    direct path, so the files it lists do not grow with the runs already in
    the store; a run with no partition commits nothing."""
    from xema_spark import runner
    from xema_spark.streaming import commit_micro_batch

    out = str(tmp_path / "own_out")
    docs = gen_documents(spark, 60).select("doc_id", "spans")
    commit_micro_batch(docs, 0, FLAGSHIP_RULE, out, n_buckets=2)
    scanned = []
    summary = runner._bucket_summary

    def spy(this_run):
        scanned.append(this_run.inputFiles())
        return summary(this_run)

    monkeypatch.setattr(runner, "_bucket_summary", spy)
    rid = commit_micro_batch(docs, 1, FLAGSHIP_RULE, out, n_buckets=2)
    assert len(scanned) == 1 and scanned[0]
    assert all(f"/run_id={rid}/" in f for f in scanned[0])
    assert runner.commit_lineage(spark, out, "stream-b-none", 0.0) == []
    assert runner.read_verdicts(spark, out).count() == 120


def test_streaming_and_batch_writers_share_one_consumer(spark, tmp_path):
    """Cross-consumer contract (VERDICT r3 #7): a directory written by BOTH
    the batch runner (run_validation) and the streaming sink
    (stream_to_verdict_tables) is ONE verdict table — read_verdicts sees the
    union of both writers' committed rows, per-writer run_ids intact, and a
    subsequent batch resume does not double-count the streaming rows."""
    from xema_spark.runner import read_verdicts, run_validation

    out = str(tmp_path / "shared_out")
    batch_docs = gen_documents(spark, 200).select("doc_id", "spans")
    run_validation(spark, batch_docs, FLAGSHIP_RULE, out, n_buckets=4,
                   resume=False, run_id="batch-backfill-1")

    # streaming ingest of DIFFERENT docs into the SAME directory
    src = str(tmp_path / "shared_src")
    stream_docs = gen_documents(spark, 300).select(
        F.concat(F.lit("s-"), F.col("doc_id")).alias("doc_id"), "spans")
    stream_docs.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (stream_to_verdict_tables(stream, FLAGSHIP_RULE, out,
                                  str(tmp_path / "shared_ckpt"), n_buckets=4)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    committed = read_verdicts(spark, out)
    assert committed.count() == 500
    run_ids = {r["run_id"] for r in committed.select("run_id").distinct().collect()}
    assert "batch-backfill-1" in run_ids
    assert any(r.startswith("stream-b") for r in run_ids)
    # doc sets are disjoint by construction (the s- prefix) — both writers'
    # rows all visible; datagen injects a duplicate doc_id every 101st row,
    # so expected distinct comes from the inputs, not the row count
    n_distinct = (batch_docs.select("doc_id").distinct().count()
                  + stream_docs.select("doc_id").distinct().count())
    assert committed.select("doc_id").distinct().count() == n_distinct

    # a batch RESUME over the shared directory must treat the streaming
    # rows' buckets as committed work too (shared lineage), re-validating
    # nothing: all 4 buckets already have lineage rows from both writers
    run_validation(spark, batch_docs, FLAGSHIP_RULE, out, n_buckets=4,
                   resume=True, run_id="batch-backfill-1")
    assert read_verdicts(spark, out).count() == 500


def test_streaming_drift_gate(spark, tmp_path):
    """Continuous drift gate: each micro-batch is profiled into the shared
    stats sidecar and scored against a batch backfill's profile BEFORE its
    verdicts commit. Clean batches commit; a drifted batch with
    fail_on_drift raises StreamDriftError and commits nothing; profile
    writes are replay-idempotent (deterministic batch-prefix partition)."""
    import os

    import pytest

    from xema_spark import stats
    from xema_spark.runner import read_verdicts, run_validation
    from xema_spark.streaming import StreamDriftError, commit_micro_batch

    out = str(tmp_path / "out")
    docs = gen_documents(spark, 300).select(
        "doc_id", "spans", F.size("spans").cast("long").alias("n_spans"))

    # batch backfill writes the baseline profile
    run_validation(spark, docs, FLAGSHIP_RULE, out, n_buckets=4,
                   resume=False, run_id="backfill", profile_cols=["n_spans"])

    # clean micro-batch through the real streaming sink: commits + profiles
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    q = (stream_to_verdict_tables(stream, FLAGSHIP_RULE, out,
                                  str(tmp_path / "ckpt"), n_buckets=4,
                                  profile_cols=["n_spans"],
                                  drift_baseline_run="backfill",
                                  fail_on_drift=True)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert read_verdicts(spark, out).count() == 600  # backfill + stream
    prof = stats.read_stats_sidecar(spark, out, "stream-b000000000")
    assert prof.count() == 1
    rep = spark.read.parquet(os.path.join(out, "drift"))
    assert rep.filter("run_id = 'stream-b000000000' AND drifted").count() == 0

    # a drifted batch must raise and commit NOTHING
    shifted = docs.withColumn("n_spans", F.col("n_spans") + 50)
    with pytest.raises(StreamDriftError, match="NOT committed"):
        commit_micro_batch(shifted, 7, FLAGSHIP_RULE, out, n_buckets=4,
                           profile_cols=["n_spans"],
                           drift_baseline_run="backfill",
                           fail_on_drift=True)
    assert read_verdicts(spark, out).count() == 600
    # ... but its profile and drift verdicts ARE recorded for the operator
    assert spark.read.parquet(os.path.join(out, "drift")) \
        .filter("run_id = 'stream-b000000007' AND drifted").count() >= 2

    # replay of a committed batch: skipped, profile partition NOT duplicated
    assert commit_micro_batch(docs, 0, FLAGSHIP_RULE, out, n_buckets=4,
                              profile_cols=["n_spans"],
                              drift_baseline_run="backfill") is None
    assert stats.read_stats_sidecar(spark, out, "stream-b000000000").count() == 1

    # missing baseline fails closed
    with pytest.raises(ValueError, match="no profile rows"):
        commit_micro_batch(docs, 8, FLAGSHIP_RULE, out, n_buckets=4,
                           profile_cols=["n_spans"],
                           drift_baseline_run="no-such-run")


def test_streaming_drift_gate_skips_empty_batch(spark, tmp_path):
    """An empty micro-batch (recovery / no-new-files trigger) carries no
    data signal: the drift gate must skip it instead of scoring row_count
    as a collapse and killing a healthy stream."""
    from xema_spark import stats
    from xema_spark.runner import run_validation
    from xema_spark.streaming import commit_micro_batch

    out = str(tmp_path / "out")
    docs = gen_documents(spark, 100).select(
        "doc_id", "spans", F.size("spans").cast("long").alias("n_spans"))
    run_validation(spark, docs, FLAGSHIP_RULE, out, n_buckets=4,
                   resume=False, run_id="backfill", profile_cols=["n_spans"])
    # must neither raise nor write a stream-b0 profile partition
    commit_micro_batch(docs.limit(0), 0, FLAGSHIP_RULE, out, n_buckets=4,
                       profile_cols=["n_spans"],
                       drift_baseline_run="backfill", fail_on_drift=True)
    assert stats.read_stats_sidecar(spark, out, "stream-b000000000").count() == 0


def test_drift_gate_fails_closed_at_call_time(spark, tmp_path):
    """fail_on_drift=True without a baseline (or profile cols) must raise
    when the sink/job is CONFIGURED, not silently never evaluate — an
    operator who sets the flag believes the pipeline is protected."""
    import pytest

    from xema_spark.runner import run_validation

    docs = gen_documents(spark, 10).select(
        "doc_id", "spans", F.size("spans").cast("long").alias("n_spans"))
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)

    with pytest.raises(ValueError, match="silently protect nothing"):
        stream_to_verdict_tables(stream, FLAGSHIP_RULE,
                                 str(tmp_path / "out"),
                                 str(tmp_path / "ckpt"),
                                 fail_on_drift=True)  # no profile/baseline
    with pytest.raises(ValueError, match="silently protect nothing"):
        run_validation(spark, docs, FLAGSHIP_RULE, str(tmp_path / "out2"),
                       resume=False, profile_cols=["n_spans"],
                       fail_on_drift=True)  # baseline missing


def test_drift_gate_validates_baseline_before_empty_skip(spark, tmp_path):
    """A typo'd drift_baseline_run must fail on the stream's FIRST trigger
    even if that trigger's batch is empty — not hours later when the first
    non-empty batch arrives."""
    import pytest

    from xema_spark.streaming import commit_micro_batch

    docs = gen_documents(spark, 10).select(
        "doc_id", "spans", F.size("spans").cast("long").alias("n_spans"))
    with pytest.raises(ValueError, match="no profile rows"):
        commit_micro_batch(docs.limit(0), 0, FLAGSHIP_RULE,
                           str(tmp_path / "out"), n_buckets=4,
                           profile_cols=["n_spans"],
                           drift_baseline_run="no-such-run",
                           fail_on_drift=True)


def test_streaming_drift_excludes_scale_dependent_metrics(spark, tmp_path):
    """A healthy 30-doc micro-batch gated against a 300-doc backfill
    profile: size-based metrics (row_count, distinct_ratio) are excluded
    by default — the batch commits and the persisted report carries no
    size-metric rows. Re-enabling them via drift_exclude_metrics=() makes
    the same batch fail on row_count, proving the default is load-bearing."""
    import os

    import pytest

    from xema_spark.runner import read_verdicts, run_validation
    from xema_spark.streaming import StreamDriftError, commit_micro_batch

    out = str(tmp_path / "out")
    docs = gen_documents(spark, 300).select(
        "doc_id", "spans", F.size("spans").cast("long").alias("n_spans"))
    run_validation(spark, docs, FLAGSHIP_RULE, out, n_buckets=4,
                   resume=False, run_id="backfill", profile_cols=["n_spans"])

    small = docs.limit(30)
    assert commit_micro_batch(small, 3, FLAGSHIP_RULE, out, n_buckets=4,
                              profile_cols=["n_spans"],
                              drift_baseline_run="backfill",
                              fail_on_drift=True) is not None
    assert read_verdicts(spark, out).count() == 330
    rep = (spark.read.parquet(os.path.join(out, "drift"))
           .filter("run_id = 'stream-b000000003'"))
    assert rep.filter(
        F.col("metric").isin("row_count", "distinct_ratio")).count() == 0
    assert rep.count() > 0  # distribution metrics are still scored

    # with the exclusion disabled the same-shaped batch fails on row_count
    with pytest.raises(StreamDriftError, match="row_count"):
        commit_micro_batch(docs.limit(30), 4, FLAGSHIP_RULE, out,
                           n_buckets=4, profile_cols=["n_spans"],
                           drift_baseline_run="backfill",
                           fail_on_drift=True, drift_exclude_metrics=())
    assert read_verdicts(spark, out).count() == 330


def test_replay_check_raises_on_corrupt_lineage(spark, tmp_path):
    """Replay detection must not treat a transient lineage read failure as
    'not committed' — that would re-commit an already-committed batch under
    a new run_id and double every row in read_verdicts."""
    import os

    import pytest

    from xema_spark.streaming import commit_micro_batch

    out = str(tmp_path / "out")
    lin = os.path.join(out, "lineage")
    os.makedirs(lin)
    with open(os.path.join(lin, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    docs = gen_documents(spark, 10).select("doc_id", "spans")
    with pytest.raises(Exception) as ei:
        commit_micro_batch(docs, 0, FLAGSHIP_RULE, out, n_buckets=4)
    assert not isinstance(ei.value, ValueError)


def test_commit_micro_batch_gate_guard_without_profile_cols(spark, tmp_path):
    """The fail-closed guard must also cover a DIRECT commit_micro_batch
    call with fail_on_drift=True and no profile_cols — previously the whole
    gate (guard included) sat inside `if profile_cols:` and the batch
    committed unprotected."""
    import pytest

    from xema_spark.streaming import commit_micro_batch

    docs = gen_documents(spark, 10).select("doc_id", "spans")
    with pytest.raises(ValueError, match="silently protect nothing"):
        commit_micro_batch(docs, 0, FLAGSHIP_RULE, str(tmp_path / "out"),
                           n_buckets=4, fail_on_drift=True)


def test_ingest_dedup_stream_across_batches(spark, tmp_path):
    from xema_spark.streaming import ingest_dedup_stream

    base = ("a long enough base document about tides harbors lighthouses "
            "and the slow patient work of the sea on stone")
    src = str(tmp_path / "ingest_src")
    # two source files -> two micro-batches (maxFilesPerTrigger=1); doc 11
    # exactly duplicates doc 1 ACROSS the batch boundary
    spark.createDataFrame(
        [(1, base),
         (2, "an unrelated first document describing orchards apples "
             "pears plums and the bees that visit them in spring")],
        ["doc_id", "text"]).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame(
        [(11, base),
         (12, "another unrelated document about trains stations rails "
              "signals and the timetable pinned by the door")],
        ["doc_id", "text"]).coalesce(1).write.parquet(f"{src}/f2")
    schema = spark.read.parquet(f"{src}/f1").schema
    store_dir = str(tmp_path / "store")
    surv_dir = str(tmp_path / "survivors")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{src}/*"))
    q = (ingest_dedup_stream(stream, store_dir, surv_dir,
                             str(tmp_path / "ckpt"), threshold=0.6)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    surv = spark.read.parquet(surv_dir)  # batch=N dirs -> partition column
    ids = sorted(r["doc_id"] for r in surv.collect())
    # exactly one of the cross-batch exact dups {1, 11} survives
    assert len(ids) == 3 and (1 in ids) != (11 in ids)
    assert 2 in ids and 12 in ids
    store = spark.read.parquet(store_dir)
    assert store.count() == 3  # one signature row per survivor
    assert store.select("ingest_batch").distinct().count() == 2
    # the store is exactly the survivors' signature set
    assert sorted(r["doc"] for r in store.collect()) == ids


def test_commit_ingest_batch_replay_idempotent(spark, tmp_path):
    from xema_spark.streaming import commit_ingest_batch

    store_dir = str(tmp_path / "rp_store")
    surv_dir = str(tmp_path / "rp_surv")
    b0 = spark.createDataFrame(
        [(1, "first document about canals bridges and bicycles rolling "
             "through a flat country under a wide grey sky")],
        ["doc_id", "text"])
    assert commit_ingest_batch(b0, 0, store_dir, surv_dir) is True
    # replay of a fully-committed batch is a detected no-op
    assert commit_ingest_batch(b0, 0, store_dir, surv_dir) is False
    store = spark.read.parquet(store_dir)
    assert store.count() == 1  # no duplicate append
    # store layout is hive-partitioned by ingest_batch so the per-batch
    # replay probe (== id) and prior read (< id) prune directories instead
    # of footer-reading the whole store as it ages
    import os
    assert any(d.startswith("ingest_batch=") for d in os.listdir(store_dir))
    surv = spark.read.parquet(surv_dir)
    assert surv.count() == 1
    # next batch-id sees batch 0's signatures: its exact dup drops
    b1 = spark.createDataFrame(
        [(2, "first document about canals bridges and bicycles rolling "
             "through a flat country under a wide grey sky")],
        ["doc_id", "text"])
    assert commit_ingest_batch(b1, 1, store_dir, surv_dir) is True
    assert spark.read.parquet(store_dir).count() == 1  # nothing admitted
    assert spark.read.parquet(surv_dir).count() == 1


def test_compact_signature_store(spark, tmp_path):
    import os

    from xema_spark import dedup
    from xema_spark.streaming import commit_ingest_batch

    store_dir = str(tmp_path / "cp_store")
    surv_dir = str(tmp_path / "cp_surv")
    texts = {
        1: "first document about canals bridges and bicycles rolling "
           "through a flat country under a wide grey sky",
        2: "second document describing orchards apples pears plums and "
           "the bees that visit them in the early spring weeks",
        3: "third document about trains stations rails signals and the "
           "timetable pinned by the waiting room door",
    }
    for bid, did in enumerate([1, 2, 3]):
        b = spark.createDataFrame([(did, texts[did])], ["doc_id", "text"])
        assert commit_ingest_batch(b, bid, store_dir, surv_dir) is True
    pre = spark.read.parquet(store_dir)
    assert pre.select("ingest_batch").distinct().count() == 3
    # flags a future batch would compute, before compaction
    probe = spark.createDataFrame(
        [(9, texts[2]), (10, "a wholly new document on glaciers moraine "
                             "and the slow grinding of valley ice")],
        ["doc_id", "text"])
    psig = dedup.signature_store(probe, "doc_id")

    def flags(df):
        return sorted(
            (r["doc_id"], r["exact_dup"], r["near_dup"])
            for r in dedup.incremental_flags_sig(
                psig, df.drop("ingest_batch"), "doc_id").collect())

    before = flags(pre)
    # compact batches < 2 (batch 2 = last committed, may still replay)
    rep = dedup.compact_signature_store(spark, store_dir, 2)
    assert rep == {"compacted_partitions": 2, "rows": 2, "docs": 2}
    parts = sorted(d for d in os.listdir(store_dir)
                   if d.startswith("ingest_batch="))
    assert parts == ["ingest_batch=-2", "ingest_batch=2"]
    post = spark.read.parquet(store_dir)
    assert post.count() == 3  # one row per doc, doc set unchanged
    assert sorted(r["doc"] for r in post.collect()) == [1, 2, 3]
    assert flags(post) == before  # ingestion semantics unchanged
    # replay-idempotent: same watermark converges to the same layout
    dedup.compact_signature_store(spark, store_dir, 2)
    assert sorted(d for d in os.listdir(store_dir)
                  if d.startswith("ingest_batch=")) == parts
    assert spark.read.parquet(store_dir).count() == 3
    # crash window: compacted partition written but sources not yet
    # deleted -> duplicate doc rows; flags still agree, and a re-run of
    # the SAME compaction converges
    dup_src = spark.read.parquet(f"{store_dir}/ingest_batch=-2")
    dup_src.write.mode("overwrite").parquet(f"{store_dir}/ingest_batch=0")
    mid = spark.read.parquet(store_dir)
    assert mid.count() == 5  # docs 1,2 duplicated across -2 and 0
    assert flags(mid) == before
    dedup.compact_signature_store(spark, store_dir, 2)
    assert sorted(d for d in os.listdir(store_dir)
                  if d.startswith("ingest_batch=")) == parts
    # the replay probe for the still-live batch 2 keeps working
    b2 = spark.createDataFrame([(3, texts[3])], ["doc_id", "text"])
    assert commit_ingest_batch(b2, 2, store_dir, surv_dir) is False
    # a successive compaction folds the prior negative partition in
    assert commit_ingest_batch(
        spark.createDataFrame(
            [(4, "fourth document about tidepools barnacles anemones and "
                 "the patient creatures of the rocky shore")],
            ["doc_id", "text"]), 3, store_dir, surv_dir) is True
    dedup.compact_signature_store(spark, store_dir, 3)
    assert sorted(d for d in os.listdir(store_dir)
                  if d.startswith("ingest_batch=")) == \
        ["ingest_batch=-3", "ingest_batch=3"]
    final = spark.read.parquet(store_dir)
    assert sorted(r["doc"] for r in final.collect()) == [1, 2, 3, 4]
