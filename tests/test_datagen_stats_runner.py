"""Datagen determinism, dataset-scope stats, and the single-pass runner with
bucket-granular resume (FIXTURES.md T1/T2/T4; north_rule checkpoint clause)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from xema_spark import stats
from xema_spark.compiler import validate_df
from xema_spark.datagen import FLAGSHIP_RULE, gen_assets, gen_documents, n_assets_for
from xema_spark.runner import run_validation

N = 3000


def test_datagen_deterministic(spark):
    a = gen_documents(spark, 500).collect()
    b = gen_documents(spark, 500, n_partitions=7).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    am = {r["doc_id"]: r["spans"] for r in a if r["doc_id"] != "doc-00000100"}
    bm = {r["doc_id"]: r["spans"] for r in b if r["doc_id"] != "doc-00000100"}
    assert am == bm  # partitioning must not change content


def test_span_sequence_invariant(spark):
    """input_hint row invariant: validation output preserves the span sequence
    (kind, text, media_ref, order) per doc."""
    docs = gen_documents(spark, 500)
    v = validate_df(docs, FLAGSHIP_RULE)
    orig = docs.select("doc_id", F.to_json("spans").alias("j")).collect()
    after = v.select("doc_id", F.to_json("spans").alias("j")).collect()
    assert sorted((r["doc_id"], r["j"]) for r in orig) == \
           sorted((r["doc_id"], r["j"]) for r in after)


def test_flagship_verdicts(spark):
    docs = gen_documents(spark, N, with_expectations=True)
    v = validate_df(docs, FLAGSHIP_RULE)
    assert v.filter(F.col("valid") != F.col("expected_valid")).count() == 0
    # every 13th doc with class 0..3 is invalid
    n_invalid = v.filter(~F.col("valid")).count()
    expected_invalid = sum(1 for i in range(N) if i % 13 == 0 and (i // 13) % 6 < 4)
    assert n_invalid == expected_invalid


def test_uniqueness(spark):
    docs = gen_documents(spark, N)
    dups = stats.uniqueness_violations(docs, ["doc_id"]).collect()
    expected = sum(1 for i in range(N) if i % 101 == 0 and i > 0)
    assert len(dups) == expected
    assert all(r["n_dups"] == 2 for r in dups)


def test_referential(spark):
    docs = gen_documents(spark, N)
    assets = gen_assets(spark, N)
    spans = docs.select("doc_id", F.explode("spans").alias("s")) \
                .select("doc_id", F.col("s.media_ref").alias("media_ref"))
    dangling = stats.referential_violations(spans, "media_ref", assets, "media_ref")
    rows = dangling.collect()
    assert len(rows) > 0
    n_assets = n_assets_for(N)
    assert all(int(r["media_ref"].split("-")[1]) >= n_assets for r in rows)
    # salted non-broadcast variant agrees
    salted = stats.referential_violations(spans, "media_ref", assets, "media_ref",
                                          broadcast_dim=False, salt_buckets=4)
    assert salted.count() == len(rows)
    # plan pin: with the dim too big to broadcast (the 100 TB regime,
    # forced here via the threshold), the salted flavor must take a
    # shuffled anti-join with the salt key in the join condition — hot
    # media_refs spread over salt_buckets reducers
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = stats.referential_violations(
            spans, "media_ref", assets, "media_ref",
            broadcast_dim=False, salt_buckets=4) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "__salt" in plan
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_salt_spreads_byte_identical_duplicate_rows(spark):
    # A hot key whose fact rows are ALSO byte-identical must still spread
    # over all salt buckets: a column-hash salt would map every duplicate to
    # one bucket (one reducer), defeating the skew mitigation. _row_salt is
    # derived from a per-row unique component, so the spread is unconditional.
    n, buckets = 4096, 8
    hot = spark.range(n).select(F.lit("asset-HOT").alias("media_ref"))
    spread = (hot.withColumn("__salt", stats._row_salt(buckets))
                 .groupBy("__salt").count().collect())
    assert len(spread) == buckets
    assert all(abs(r["count"] - n / buckets) < n / buckets for r in spread)
    # and the salted anti-join result is still exactly the dangling rows
    assets = spark.createDataFrame([("asset-0",)], ["media_ref"])
    out = stats.referential_violations(hot, "media_ref", assets, "media_ref",
                                       broadcast_dim=False, salt_buckets=buckets)
    assert out.count() == n
    assert out.columns == ["media_ref"]


def test_column_stats_and_drift(spark):
    docs = gen_documents(spark, N)
    flat = docs.select(F.explode("spans").alias("s")).select("s.*")
    st = {r["column"]: r for r in stats.column_stats(flat, ["kind", "offset"],
                                                     exact_distinct=True).collect()}
    assert st["kind"]["n_distinct"] == 3  # text, media, blob
    assert int(st["offset"]["min_value"]) == -5
    mom = stats.numeric_moments(flat, "offset").head()
    assert mom["n"] > 0 and mom["stddev"] > 0
    qs = stats.quantile_sketch(flat, "offset")
    assert qs == sorted(qs)
    # drift: clean offsets vs shifted copy
    a = flat.select(F.col("offset").cast("double").alias("x"))
    b = flat.select((F.col("offset") + 200).cast("double").alias("x"))
    assert stats.psi(a, a, "x", 0, 700) < 1e-9
    assert stats.psi(a, b, "x", 0, 700) > 0.1
    assert stats.quantile_drift(a, b, "x") > 0.1


def test_stats_profile_and_cross_run_drift(spark, tmp_path):
    """Cross-run drift gate: stats_profile (one agg pass, long format) ->
    sidecar round-trip stamped by run_id -> drift_report scores. A shifted
    copy must trip mean_shift + quantile_shift; the identical frame must
    trip nothing (scores 0 / ratio 1)."""
    docs = gen_documents(spark, N)
    flat = docs.select(F.explode("spans").alias("s")).select("s.offset")
    prof = stats.stats_profile(flat, ["offset"], exact=True)
    row = prof.head()
    assert row["column"] == "offset" and row["n"] > 0
    assert list(row["quantiles"]) == sorted(row["quantiles"])
    assert len(row["quantiles"]) == len(row["q_probs"]) == 5

    # sidecar round-trip: two runs appended, each readable by its run_id
    out = str(tmp_path / "out")
    stats.write_stats_sidecar(prof, out, "run-a")
    shifted = flat.select((F.col("offset") + 500).alias("offset"))
    stats.write_stats_sidecar(
        stats.stats_profile(shifted, ["offset"], exact=True), out, "run-b")
    base = stats.read_stats_sidecar(spark, out, "run-a")
    cur = stats.read_stats_sidecar(spark, out, "run-b")
    assert base.count() == cur.count() == 1

    rep = {(r["column"], r["metric"]): r
           for r in stats.drift_report(cur, base).collect()}
    assert rep[("offset", "mean_shift")]["drifted"]
    assert rep[("offset", "quantile_shift")]["drifted"]
    # +constant shift: distinct count and null fraction unchanged
    assert not rep[("offset", "distinct_ratio")]["drifted"]
    assert rep[("offset", "distinct_ratio")]["score"] == 1.0
    assert not rep[("offset", "null_frac")]["drifted"]

    # self-comparison is drift-free on every metric
    self_rep = stats.drift_report(base, base).collect()
    assert all(not r["drifted"] for r in self_rep)
    assert all(r["score"] == 0.0 for r in self_rep
               if r["metric"] in ("mean_shift", "null_frac", "quantile_shift"))

    # approx flavor (HLL + percentile_approx sketch) keeps the same shape
    # and close values — the scale path at 100 TB
    ap = stats.stats_profile(flat, ["offset"]).head()
    assert ap["n"] == row["n"]
    assert abs(ap["mean"] - row["mean"]) < 1e-6


def test_worst_partitions_and_violation_sample(spark):
    from xema_spark.compiler import explode_violations, validate_df
    docs = gen_documents(spark, N, n_partitions=8)
    v = validate_df(docs, FLAGSHIP_RULE)
    summary = stats.per_partition_summary(v)
    worst = stats.worst_partitions(summary, k=3).collect()
    assert len(worst) == 3
    invalids = [r["n_invalid"] for r in worst]
    assert invalids == sorted(invalids, reverse=True)
    assert invalids[0] == summary.agg(F.max("n_invalid")).head()[0]

    viols = explode_violations(v, ["doc_id"])
    sampled = stats.sample_violations(viols, ["keyword"], ["doc_id"], k=2)
    per_kw = sampled.groupBy("keyword").count().collect()
    assert all(r["count"] <= 2 for r in per_kw)
    assert sampled.filter(F.col("sample_rank") > 2).count() == 0


def test_explode_violations_on_error_hook(spark):
    """on_error (behaviour.ex:106-123 analogue) rewrites messages in the
    same projection."""
    from xema_spark.compiler import explode_violations, validate_df
    docs = gen_documents(spark, 200)
    v = validate_df(docs, FLAGSHIP_RULE)
    custom = explode_violations(
        v, ["doc_id"],
        on_error=lambda path, kw, msg: F.concat(F.lit("E:"), kw, F.lit("@"), path))
    rows = custom.limit(5).collect()
    assert rows and all(r["message"].startswith("E:") for r in rows)
    assert all(r["message"] == f"E:{r['keyword']}@{r['path']}" for r in rows)


def test_grouped_quantiles_exact(spark):
    import numpy as np
    df = spark.createDataFrame(
        [("a", float(x)) for x in range(1, 11)] + [("b", 5.0), ("b", 15.0)],
        ["g", "x"])
    got = {r["g"]: r for r in stats.grouped_quantiles(df, "g", "x").collect()}
    assert got["a"]["q50"] == float(np.quantile(np.arange(1.0, 11.0), 0.5))
    assert got["b"]["q25"] == 7.5 and got["b"]["q75"] == 12.5


def test_runner_single_pass_and_resume(spark, tmp_path):
    docs = gen_documents(spark, N)
    assets = gen_assets(spark, N)
    out_full = str(tmp_path / "full")
    m1 = run_validation(spark, docs, FLAGSHIP_RULE, out_full, assets=assets,
                        n_buckets=8, run_id="r1")
    assert m1["n_rows"] == N
    assert m1["n_violations"] > 0 and m1["dangling_refs"] > 0

    # partial run: only buckets 0..3 of the input (simulates a crash after 4
    # buckets), then resume over the full input
    out_res = str(tmp_path / "resumed")
    part = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int") < 4)
    m2 = run_validation(spark, part, FLAGSHIP_RULE, out_res, assets=assets,
                        n_buckets=8, run_id="r2")
    assert m2["resumed_buckets"] == 0
    m3 = run_validation(spark, docs, FLAGSHIP_RULE, out_res, assets=assets,
                        n_buckets=8, run_id="r3")
    assert m3["resumed_buckets"] == 4  # completed buckets were skipped
    assert m3["n_rows"] == m1["n_rows"]
    assert m3["n_violations"] == m1["n_violations"]
    assert m3["dangling_refs"] == m1["dangling_refs"]

    # verdict tables identical
    va = spark.read.parquet(os.path.join(out_full, "verdicts")) \
        .select("doc_id", "valid").collect()
    vb = spark.read.parquet(os.path.join(out_res, "verdicts")) \
        .select("doc_id", "valid").collect()
    assert sorted(map(tuple, va)) == sorted(map(tuple, vb))

    # lineage sidecar covers all buckets exactly once
    lin = spark.read.parquet(os.path.join(out_res, "lineage"))
    assert lin.select("bucket").distinct().count() == 8
    assert lin.count() == 8


def test_empty_input_into_fresh_output_dir(spark, tmp_path):
    """An empty input leaves verdicts/ with no data and no lineage: the run
    reports zero totals instead of failing to infer the committed view's
    schema."""
    docs = gen_documents(spark, N).limit(0)
    m = run_validation(spark, docs, FLAGSHIP_RULE, str(tmp_path / "out"),
                       n_buckets=2)
    assert (m["n_rows"], m["n_valid"], m["n_violations"]) == (0, 0, 0)
    assert (m["scan_rows"], m["duplicate_doc_ids"]) == (0, 0)


def test_runner_profile_sidecar_and_drift_gate(spark, tmp_path):
    """run_validation(profile_cols=...) writes a run_id-stamped profile
    sidecar; a second run with drift_baseline_run gates itself against it
    and reports the drifted (column, metric) count in its metrics + the
    verdict rows under <out>/drift/."""
    out = str(tmp_path / "out")
    docs = gen_documents(spark, 300).withColumn(
        "n_spans", F.size("spans").cast("long"))
    m1 = run_validation(spark, docs, FLAGSHIP_RULE, out, n_buckets=4,
                        resume=False, run_id="run-1",
                        profile_cols=["n_spans"])
    assert "drifted_metrics" not in m1
    assert stats.read_stats_sidecar(spark, out, "run-1").count() == 1

    shifted = docs.withColumn("n_spans", F.col("n_spans") + 50)
    m2 = run_validation(spark, shifted, FLAGSHIP_RULE, out, n_buckets=4,
                        resume=False, run_id="run-2",
                        profile_cols=["n_spans"],
                        drift_baseline_run="run-1")
    assert m2["drift_baseline_run"] == "run-1"
    assert m2["drifted_metrics"] >= 2  # mean_shift + quantile_shift at least
    rep = spark.read.parquet(os.path.join(out, "drift"))
    assert rep.filter("run_id = 'run-2' AND drifted").count() \
        == m2["drifted_metrics"]
    drifted = {r["metric"] for r in rep.filter("drifted").collect()}
    assert {"mean_shift", "quantile_shift"} <= drifted


def test_runner_crash_window_idempotent(spark, tmp_path):
    """Resume must be idempotent across the crash window between the verdict
    write and the lineage append: orphaned verdict files (a run_id with no
    lineage row) are invisible to read_verdicts, and a resumed run re-scans
    those buckets without double-counting."""
    import shutil

    from xema_spark.runner import read_verdicts

    docs = gen_documents(spark, N)
    out = str(tmp_path / "crash")

    # run 1 completes buckets 0..3 normally
    part = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int") < 4)
    run_validation(spark, part, FLAGSHIP_RULE, out, n_buckets=8, run_id="ok1")

    # simulate a crashed attempt: verdict files for buckets 4..7 exist under
    # run_id=dead but its lineage row was never appended
    rest = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int") >= 4)
    run_validation(spark, rest, FLAGSHIP_RULE, out, n_buckets=8, run_id="dead")
    # remove run_id=dead's commit: drop its lineage rows by rewriting lineage
    lin_dir = os.path.join(out, "lineage")
    keep = spark.read.parquet(lin_dir).filter(F.col("run_id") != "dead").collect()
    shutil.rmtree(lin_dir)
    lin_schema = ("bucket INT, n_rows BIGINT, n_valid BIGINT, n_violations BIGINT, "
                  "n_bytes BIGINT, run_id STRING, scan_elapsed_sec DOUBLE")
    spark.createDataFrame(keep, schema=lin_schema).write.mode("overwrite").parquet(lin_dir)

    # orphaned rows are invisible
    committed = read_verdicts(spark, out)
    assert committed.filter(F.col("run_id") == "dead").count() == 0
    assert committed.count() == part.count()

    # resume re-scans exactly the uncommitted buckets; totals come out exact
    m = run_validation(spark, docs, FLAGSHIP_RULE, out, n_buckets=8, run_id="ok2")
    assert m["resumed_buckets"] == 4
    assert m["n_rows"] == N
    final = read_verdicts(spark, out)
    assert final.count() == N
    assert final.select("doc_id").distinct().count() == docs.select("doc_id").distinct().count()


def test_resume_coverage_not_count(spark, tmp_path):
    """fully_resumed must test COVERAGE of range(n_buckets), not a bucket
    count: a lineage sidecar holding buckets {4..9} written under a larger
    n_buckets (foreign config sharing the directory) must not convince an
    n_buckets=4 run that its own buckets 0-3 are done — the run has to scan
    its whole input, not silently skip it (r4 review finding #1)."""
    out = str(tmp_path / "out")
    docs = gen_documents(spark, 400)
    lin_schema = ("bucket INT, n_rows BIGINT, n_valid BIGINT, n_violations "
                  "BIGINT, n_bytes BIGINT, run_id STRING, scan_elapsed_sec DOUBLE")
    foreign = [(b, 0, 0, 0, 0, "wider-writer", 0.0) for b in range(4, 10)]
    spark.createDataFrame(foreign, schema=lin_schema) \
        .write.mode("overwrite").parquet(os.path.join(out, "lineage"))

    m = run_validation(spark, docs, FLAGSHIP_RULE, out, n_buckets=4,
                       resume=True, run_id="narrow")
    # the scan ran over the full input (6 >= 4 would have skipped it)
    assert m["scan_rows"] == 400
    # and the 6 foreign buckets never gated this run's scan, so they must
    # not be reported as resumed work either
    assert m["resumed_buckets"] == 0
    v = spark.read.parquet(os.path.join(out, "verdicts"))
    assert v.filter(F.col("run_id") == "narrow").count() == 400


def test_drift_gate_missing_baseline_fails_closed(spark, tmp_path):
    """A typo'd / never-profiled baseline run_id must raise, not report
    drifted_metrics=0 via an empty inner join (r4 review finding #2)."""
    import pytest

    out = str(tmp_path / "out")
    docs = gen_documents(spark, 200).withColumn(
        "n_spans", F.size("spans").cast("long"))
    with pytest.raises(ValueError, match="no profile rows"):
        run_validation(spark, docs, FLAGSHIP_RULE, out, n_buckets=4,
                       resume=False, run_id="run-x",
                       profile_cols=["n_spans"],
                       drift_baseline_run="no-such-run")


def test_drift_report_fail_closed_and_row_count(spark):
    """An empty current corpus yields NULL means/quantiles; those must count
    as DRIFTED (fail closed), and the row_count metric must flag the
    collapse outright (r4 review finding #3)."""
    base_df = spark.range(1000).select(
        (F.col("id") % 97).cast("double").alias("x"))
    cur_df = base_df.filter(F.lit(False))
    base = stats.stats_profile(base_df, ["x"], exact=True)
    cur = stats.stats_profile(cur_df, ["x"], exact=True)
    rep = {r["metric"]: r for r in stats.drift_report(cur, base).collect()}
    assert rep["row_count"]["drifted"]
    assert rep["row_count"]["current_value"] == 0.0
    assert rep["mean_shift"]["drifted"]       # NULL score -> drifted
    assert rep["quantile_shift"]["drifted"]
    assert all(r["drifted"] is not None for r in rep.values())
    # and an identical pair stays clean, including the new metric
    clean = {r["metric"]: r["drifted"]
             for r in stats.drift_report(base, base).collect()}
    assert clean == {m: False for m in
                     ("row_count", "mean_shift", "null_frac",
                      "distinct_ratio", "quantile_shift")}


def test_stats_sidecar_idempotent_rewrite(spark, tmp_path):
    """Same-run_id retries (resume is documented re-runnable) overwrite
    their own partition instead of appending duplicates that would fan out
    a later drift join (r4 review finding #5)."""
    out = str(tmp_path / "out")
    df = spark.range(100).select(F.col("id").cast("double").alias("x"))
    prof = stats.stats_profile(df, ["x"])
    stats.write_stats_sidecar(prof, out, "run-a")
    stats.write_stats_sidecar(prof, out, "run-a")   # retry: must not double
    stats.write_stats_sidecar(prof, out, "run-b")   # other runs untouched
    assert stats.read_stats_sidecar(spark, out, "run-a").count() == 1
    assert stats.read_stats_sidecar(spark, out, "run-b").count() == 1


def test_bench_history_minima_guards():
    """One malformed or wider-arity history record must degrade to
    'skipped', never crash BASELINE.md regeneration after the measurement
    phase (r4 review finding #6). Pure-Python — no Spark session."""
    import bench

    def rec(levels, **over):
        r = {"n_docs": 100, "partitions": 8,
             "levels": [{"cpus": c, "all_scan_sec": [1.0 / c],
                         "all_runs_sec": [2.0 / c]} for c in levels]}
        r.update(over)
        return r

    good = [rec((2, 8)), rec((2, 8))]
    bad = [rec((2, 8, 32)),                      # 3-level experiment
           {"n_docs": 100, "partitions": 8},     # no levels key at all
           {"n_docs": 100, "partitions": 8,
            "levels": [{"cpus": 2}]},            # levels missing rep lists
           {"n_docs": 100, "partitions": 8, "levels": "oops"}]
    m = bench._minima_for(good + bad, 100, 8, (2, 8))
    assert m is not None and m["n_runs"] == 2
    assert m["efficiency_scan"] == 1.0
    # a pair that only exists in malformed records yields None, not a crash
    assert bench._minima_for(bad, 100, 8, (2, 32)) is None
    # efficiency is undefined for a non-pair level tuple
    assert bench._minima_for(good + bad, 100, 8, (2, 8, 32)) is None


def test_bench_baseline_md_regeneration(tmp_path, monkeypatch):
    """BASELINE.md regeneration is the last step after an hours-long
    measurement phase: it must produce the recomputed larger-N gate line
    and the core-sweep paragraph from the history/sweep files, and degrade
    to empty strings (not crash) when either file is absent. Pure Python."""
    import json as _json

    import bench

    hist = tmp_path / "BENCH" / "history.jsonl"
    hist.parent.mkdir()
    monkeypatch.setattr(bench, "HISTORY_PATH", str(hist))
    monkeypatch.chdir(tmp_path)

    # no history, no sweep file: both lines degrade to ""
    assert bench._larger_n_gate_line() == ""
    assert bench._core_sweep_line() == ""

    def rec(n_docs, levels, scans, walls):
        return {"n_docs": n_docs, "partitions": bench.FIXED_PARTITIONS,
                "levels": [{"cpus": c, "all_scan_sec": [s],
                            "all_runs_sec": [w], "rep_health": [1.0]}
                           for c, s, w in zip(levels, scans, walls)]}

    with open(hist, "w") as f:
        # default shape (SCALE_N) + one wider-input shape that clears e2e
        f.write(_json.dumps(rec(bench.SCALE_N, bench.SCALE_LEVELS,
                                [40.0, 11.0], [60.0, 20.0])) + "\n")
        f.write(_json.dumps(rec(bench.SCALE_N * 4, (2, 8),
                                [120.0, 32.0], [156.0, 43.0])) + "\n")
    gate = bench._larger_n_gate_line()
    assert "clears END-TO-END" in gate            # 156/43/4 = 0.907 >= 0.8
    assert f"{bench.SCALE_N * 4:,}" in gate

    with open(tmp_path / "BENCH" / "core_sweep.jsonl", "w") as f:
        f.write(_json.dumps({
            "n_docs": bench.SCALE_N, "partitions": bench.FIXED_PARTITIONS,
            "levels": [{"cpus": 2, "min_scan_sec": 41.0},
                       {"cpus": 8, "min_scan_sec": 12.0}]}) + "\n")
    sweep = bench._core_sweep_line()
    # merged with history: history's 40.0s@2 / 11.0s@8 beat the sweep's
    # observations, so the curve uses the cross-source minima
    assert "2:1.00" in sweep and "8:0.91" in sweep

    lvl = {"cpus": 2, "n_docs": bench.SCALE_N, "elapsed_sec": 60.0,
           "docs_per_sec": 40000.0, "scan_elapsed_sec": 40.0,
           "best_sec": 60.0, "best_scan_sec": 40.0,
           "all_runs_sec": [60.0], "rep_health": [1.0], "basis": "test"}
    hi = dict(lvl, cpus=8, elapsed_sec=20.0, scan_elapsed_sec=11.0,
              best_sec=20.0, best_scan_sec=11.0, all_runs_sec=[20.0])
    bench.write_baseline_md(
        [lvl, hi], efficiency=0.75, scan_eff=0.91, best_eff=0.91,
        control={"efficiency": 0.95, "ops_per_sec": {"2": 1.0, "8": 3.8}},
        queries={"q": 1.0})
    text = (tmp_path / "BENCH" / "BASELINE.md").read_text()
    assert "clears END-TO-END" in text
    assert "Core-count sweep" in text
    assert "Scaling history minima by job shape" in text


def test_runner_fail_on_drift(spark, tmp_path):
    """Batch fail_on_drift: the gate raises AFTER persisting verdicts,
    profile, and drift report — the orchestrator halts but the forensic
    record is complete."""
    import pytest

    from xema_spark.runner import DriftGateError

    out = str(tmp_path / "out")
    docs = gen_documents(spark, 300).withColumn(
        "n_spans", F.size("spans").cast("long"))
    run_validation(spark, docs, FLAGSHIP_RULE, out, n_buckets=4,
                   resume=False, run_id="run-1", profile_cols=["n_spans"])

    shifted = docs.withColumn("n_spans", F.col("n_spans") + 50)
    with pytest.raises(DriftGateError, match="drifted vs baseline 'run-1'"):
        run_validation(spark, shifted, FLAGSHIP_RULE, out, n_buckets=4,
                       resume=False, run_id="run-2",
                       profile_cols=["n_spans"],
                       drift_baseline_run="run-1", fail_on_drift=True)
    # everything persisted before the raise
    assert os.path.exists(os.path.join(out, "metrics_run-2.json"))
    rep = spark.read.parquet(os.path.join(out, "drift"))
    assert rep.filter("run_id = 'run-2' AND drifted").count() >= 2
    assert stats.read_stats_sidecar(spark, out, "run-2").count() == 1


def test_corrupt_lineage_raises_not_full_rescan(spark, tmp_path):
    """A lineage sidecar that EXISTS but cannot be read must raise on
    resume — an empty completed-bucket set on a transient read failure
    would re-scan and re-commit every bucket, and read_verdicts would then
    return every doc twice. Only the missing-path case means first run."""
    import pytest

    from pyspark.errors import AnalysisException
    from xema_spark.runner import _completed_buckets

    lin = tmp_path / "lineage"
    lin.mkdir()
    (lin / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception) as ei:
        _completed_buckets(spark, str(lin))
    # must be the raw read error, not a silent set() — and specifically NOT
    # classified as a missing path
    assert not isinstance(ei.value, ValueError)

    # missing path still means "first run, nothing resumed"
    assert _completed_buckets(spark, str(tmp_path / "nope")) == set()


def test_drift_report_missing_baseline_column_fails_closed(spark):
    """A column profiled in the current run with NO baseline row must
    surface as drifted rows (it was never actually checked), not vanish
    through the join; baseline-only columns stay out (an operator's
    deliberate choice to gate a subset must not fail the run)."""
    df = spark.range(500).select(
        (F.col("id") % 97).cast("double").alias("a"),
        (F.col("id") % 13).cast("double").alias("b"))
    cur = stats.stats_profile(df, ["a", "b"], exact=True)
    base = stats.stats_profile(df, ["a"], exact=True)

    rep = stats.drift_report(cur, base)
    b_rows = rep.filter("column = 'b'").collect()
    assert len(b_rows) == 5                      # every metric reported
    assert all(r["drifted"] for r in b_rows)     # all fail closed
    assert all(r["score"] is None for r in b_rows)
    assert rep.filter("column = 'a' AND drifted").count() == 0

    # subset gating: current 'a' vs baseline {'a','b'} — no phantom b rows
    rep2 = stats.drift_report(base, cur)
    assert rep2.filter("column = 'b'").count() == 0
    assert rep2.filter("drifted").count() == 0


def test_bench_best_known_minima_are_shape_keyed(tmp_path, monkeypatch):
    """'best known' per-query minima pool ONLY records of the current
    corpus+core shape: one sf0.01 run must not plant ~10x-faster timings
    as undisplaceable sf0.1 minima (r4 review finding). Legacy records
    without a q_shape key pin to the historical default (sf0.1, 32), not
    to whatever the current env happens to be. Pure Python."""
    import json as _json

    import bench

    hist = tmp_path / "history.jsonl"
    monkeypatch.setattr(bench, "HISTORY_PATH", str(hist))
    with open(hist, "w") as f:
        f.write(_json.dumps({"queries": {"q1": 5.0},
                             "q_shape": ["sf0.1", 32]}) + "\n")
        f.write(_json.dumps({"queries": {"q1": 0.4},
                             "q_shape": ["sf0.01", 32]}) + "\n")
        f.write(_json.dumps({"queries": {"q1": 4.0}}) + "\n")  # legacy

    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.1")
    monkeypatch.setattr(bench, "CPUS", 32)
    best = bench._best_known_queries({"q1": 6.0})
    assert best["q1"] == 4.0        # legacy counts as sf0.1; sf0.01 ignored

    monkeypatch.setattr(bench, "SF_DIR", "/root/testdata/sf0.01")
    best = bench._best_known_queries({"q1": 0.5})
    assert best["q1"] == 0.4        # within-shape minimum only
