"""Single-pass validation job: the engine's production entrypoint.

North-rule architecture (BASELINE.json): ONE scan of the (up to 10^12-doc)
documents table computes, in a single projection:

    bucket      = pmod(xxhash64(doc_id), n_buckets)   -- explicit partitioning
    valid       = compiled rule verdict (Column tree)
    violations  = compiled violations array
    media_refs  = spans.media_ref (for the referential check)
    n_bytes     = approximate payload bytes (for the metrics sidecar)

and writes a compact per-row verdict table partitioned by bucket. Everything
downstream (per-bucket summaries, exploded violation rows, uniqueness,
referential anti-join, the lineage sidecar) reads the verdict table — which
is orders of magnitude smaller than the input (no span text) — so the 100TB
side is scanned exactly once.

Checkpoint/resume is at bucket granularity and the lineage sidecar is the
COMMIT LOG: verdicts are written under verdicts/run_id=<id>/bucket=<b>/ and
a (run_id, bucket) pair becomes visible only once its lineage row lands.
If a run dies between the verdict write and the lineage append, the orphan
files are invisible to every consumer (read_verdicts semi-joins the lineage)
and the resumed run re-scans those buckets under a fresh run_id — resume is
idempotent without any rename/manifest machinery. A resumed run anti-joins
the committed bucket set and scans only the remainder (the reference has no
analogue — its only I/O is a schema fetch,
/root/reference/lib/xema/loader.ex:9-15 — this operator exists for the
10^12-doc shape).

One commit core serves the batch runner and the streaming foreachBatch
sink (streaming.commit_micro_batch):

- `_write_verdicts` is the only verdict write: compile the rule, project
  the verdict rows, stamp run_id, repartition on bucket and append under
  verdicts/ partitioned by (run_id, bucket);
- `_read_run` is the only read of one run's rows: its verdicts/run_id=<id>
  partition by direct path, whatever else the store holds;
- the lineage append (`_append_lineage_rows`) is the commit, and
  `_read_written` is the only read of a sidecar that may not exist yet.

The two callers differ only in how they commit: the batch folds its commit
summary into one action with the uniqueness and referential probes, the
stream commits through `commit_lineage`.

Filesystem rule: a path is local when its URI scheme — or, for a path with
no scheme, the scheme of fs.defaultFS — is `file`. Only then do driver-side
writes (the pyarrow lineage commit, the metrics file) touch the driver's
own disk; every other path goes through Spark or the Hadoop FileSystem API,
so a commit lands on the same filesystem as the verdicts it publishes.

Skew: hot doc_ids don't exist (ids are unique-ish) but hot media_refs do;
the referential check broadcasts the asset dimension (no shuffle of the big
side) or salts the dim when it's too big to broadcast (stats.py).

Run via spark-submit:
    spark-submit --py-files xema_spark.zip -m xema_spark.runner \
        --input s3://.../documents --assets s3://.../assets --output .../out
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.errors import AnalysisException

if __package__ in (None, ""):  # executed as a script (spark-submit runner.py)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xema_spark.compiler import compile_rule
from xema_spark.rules import meta_validate, normalize_rule


class DriftGateError(RuntimeError):
    """run_validation(fail_on_drift=True) found drifted (column, metric)
    rows vs the baseline run. Raised after all outputs are persisted — the
    orchestrator halts, the forensic record stays."""


#: AnalysisException markers for "this parquet path was never written"
#: (see _read_written).
MISSING_PATH_MARKERS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA",
                        "Path does not exist")


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-agnostic existence probe (one NameNode/FS RPC, no Spark job)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _read_written(spark: SparkSession, path: str) -> DataFrame | None:
    """`path` read as parquet, or None when nothing was ever written there:
    the path does not exist, or it is a directory with no data files (an
    empty write leaves only _SUCCESS). The only read of a sidecar or store
    that may not exist yet. Checking existence first keeps the common
    first-run case off Spark's failing-read path. Any other failure raises:
    a transient read error taken for "nothing committed yet" would
    re-commit work and double-count rows in read_verdicts, the exact
    failure commit protocols exist to prevent."""
    if not _path_exists(spark, path):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if any(m in str(e) for m in MISSING_PATH_MARKERS):
            return None
        raise


def _local_path(spark: SparkSession, path: str) -> str | None:
    """`path` on the driver's own filesystem, or None when it names another
    one. The scheme comes from the path's URI, or else from fs.defaultFS;
    the FileSystem itself is never instantiated (for hdfs:// that would
    contact the NameNode)."""
    jvm = spark._jvm
    uri = jvm.org.apache.hadoop.fs.Path(path).toUri()
    scheme = uri.getScheme() or jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(
        spark._jsc.hadoopConfiguration()).getScheme()
    return uri.getPath() if scheme == "file" else None


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write `text` to `path` through a temporary file and a rename, so a
    reader sees either no file or the whole of it. A local path uses
    os.replace; any other goes through the Hadoop FileSystem, whose rename
    does not overwrite, so an existing file is deleted first."""
    local = _local_path(spark, path)
    if local is not None:
        with open(local + ".tmp", "w") as f:
            f.write(text)
        os.replace(local + ".tmp", local)
        return
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    dst, tmp = hpath(path), hpath(path + ".tmp")
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
    fs.delete(dst, False)
    if not fs.rename(tmp, dst):
        raise OSError(f"could not rename {path}.tmp to {path}")


def _completed_buckets(spark: SparkSession, lineage_dir: str) -> set[int]:
    """Buckets with a lineage row; empty when no lineage was ever written
    (first run). An unreadable lineage raises rather than reading as empty,
    which would re-scan and re-commit every committed bucket."""
    lin = _read_written(spark, lineage_dir)
    if lin is None:
        return set()
    return {int(r["bucket"]) for r in lin.select("bucket").distinct().collect()}


def read_verdicts(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed view of the verdict table: only (run_id, bucket) pairs
    recorded in the lineage sidecar are visible. Verdict files from a run
    that died between its verdict write and its lineage append (the crash
    window) are excluded, so re-scanned buckets never appear twice."""
    v = spark.read.parquet(os.path.join(output_dir, "verdicts"))
    lin = (spark.read.parquet(os.path.join(output_dir, "lineage"))
           .select("run_id", "bucket").distinct())
    return v.join(F.broadcast(lin), ["run_id", "bucket"], "left_semi")


def enrich_verdicts(docs: DataFrame, compiled, n_buckets: int) -> DataFrame:
    """The single-pass projection: compact verdict rows (doc_id, bucket,
    valid, violations, media_refs, n_bytes) from the raw documents frame.
    Shared by the batch runner and the streaming foreachBatch sink so both
    write the SAME verdict-table schema."""
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    has_spans = "spans" in docs.columns
    # array_compact / concat_ws instead of the lambda HOFs: ArrayFilter and
    # ArrayAggregate are CodegenFallback (interpreted per row); these run in
    # whole-stage codegen. concat_ws skips NULL elements, so its length is
    # exactly sum(length(non-null)) — measured ~0.9s/scan at the 2.4M-doc
    # bench shape, value-identical (guide §4.1: prefer built-ins).
    media_refs = (
        F.array_compact(F.col("spans.media_ref"))
        if has_spans else F.array().cast("array<string>")
    )
    n_bytes = (
        # explicit NULL-spans guard: size(NULL) is -1 in non-ANSI sessions,
        # which would leak -16 into the sum (the old aggregate() returned
        # NULL -> coalesce 0 there)
        F.when(F.col("spans").isNull(), F.lit(0).cast("long")).otherwise(
            F.coalesce(F.length(F.concat_ws("", F.col("spans.text")))
                       .cast("long"), F.lit(0))
            + F.coalesce(F.length(F.concat_ws("", F.col("spans.media_ref")))
                         .cast("long"), F.lit(0))
            + F.lit(16).cast("long") * F.size("spans"))
        if has_spans else F.lit(0).cast("long")
    )
    return docs.select(
        F.col("doc_id"),
        bucket.alias("bucket"),
        compiled.valid.alias("valid"),
        compiled.violations.alias("violations"),
        media_refs.alias("media_refs"),
        n_bytes.alias("n_bytes"),
    )


def _write_verdicts(docs: DataFrame, rule: dict, output_dir: str, run_id: str,
                    n_buckets: int, n_parts: int,
                    skip_buckets: set[int] = frozenset()) -> float:
    """THE verdict write of both entry points: compile the (normalized) rule,
    project the compact verdict rows, drop `skip_buckets` (a resumed batch's
    committed buckets), stamp `run_id` and append one file per bucket under
    verdicts/run_id=<id>/bucket=<b>/. The repartition on the doc_id-hash
    bucket happens AFTER the projection dropped the heavy spans column, so
    the shuffle moves only the compact rows. `n_parts` is the write's task
    count: each bucket still hashes to exactly one task, so the layout is
    the same for any value. Returns the write's wall seconds."""
    enriched = enrich_verdicts(docs, compile_rule(rule, None, docs.schema),
                               n_buckets)
    if skip_buckets:
        enriched = enriched.filter(~F.col("bucket").isin(*sorted(skip_buckets)))
    t0 = time.time()
    (enriched.withColumn("run_id", F.lit(run_id))
     .repartition(n_parts, "bucket")
     .write.mode("append").partitionBy("run_id", "bucket")
     .parquet(os.path.join(output_dir, "verdicts")))
    return time.time() - t0


def _read_run(spark: SparkSession, output_dir: str, run_id: str) -> DataFrame | None:
    """One run's verdict rows, read from its verdicts/run_id=<id> partition
    by direct path: listing it costs the same however many runs the store
    holds. `bucket` is the partition column below that path; `run_id` is
    set from the argument (partition inference would read a numeric id as
    a number). None when the run wrote no rows."""
    run = _read_written(spark, os.path.join(output_dir, "verdicts",
                                            f"run_id={run_id}"))
    return None if run is None else run.withColumn("run_id", F.lit(run_id))


def _bucket_summary(this_run: DataFrame) -> DataFrame:
    """Per-bucket summary aggregate of one run's verdict rows — shared by
    commit_lineage and run_validation's fused summary+probe action."""
    return this_run.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("valid").cast("long")).alias("n_valid"),
        F.sum(F.size("violations").cast("long")).alias("n_violations"),
        F.sum("n_bytes").alias("n_bytes"),
    )


def _append_lineage_rows(spark: SparkSession, output_dir: str, run_id: str,
                         scan_elapsed: float, summary_rows: list) -> None:
    """Append the (<= n_buckets) summary rows to the lineage sidecar — the
    COMMIT that makes this run's (run_id, bucket) pairs visible. The rows
    are already on the driver, so on a local filesystem this writes ONE
    parquet file driver-side (pyarrow) instead of scheduling a Spark job for
    a kilobyte of metadata (guide §5: the driver should do almost no DATA
    work; this is not data work). Any other filesystem gets a Spark write,
    so the commit lands where the verdicts are."""
    lineage_dir = os.path.join(output_dir, "lineage")
    rows = [{"bucket": int(r["bucket"]), "n_rows": int(r["n_rows"]),
             "n_valid": int(r["n_valid"]),
             "n_violations": int(r["n_violations"]),
             "n_bytes": int(r["n_bytes"]), "run_id": run_id,
             "scan_elapsed_sec": float(scan_elapsed)} for r in summary_rows]
    local_dir = _local_path(spark, lineage_dir)
    if local_dir is not None:
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(local_dir, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=pa.schema([
            ("bucket", pa.int32()), ("n_rows", pa.int64()),
            ("n_valid", pa.int64()), ("n_violations", pa.int64()),
            ("n_bytes", pa.int64()), ("run_id", pa.string()),
            ("scan_elapsed_sec", pa.float64())]))
        tmp = os.path.join(local_dir, f".part-{_uuid.uuid4().hex}.tmp")
        final = os.path.join(local_dir,
                             f"part-{_uuid.uuid4().hex}.snappy.parquet")
        pq.write_table(table, tmp, compression="snappy")
        os.rename(tmp, final)  # atomic on a local filesystem
        return
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("bucket", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_valid", T.LongType()),
        T.StructField("n_violations", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("scan_elapsed_sec", T.DoubleType())])
    (spark.createDataFrame([tuple(r.values()) for r in rows], schema)
     .coalesce(1).write.mode("append").parquet(lineage_dir))


def commit_lineage(spark: SparkSession, output_dir: str, run_id: str,
                   scan_elapsed: float, this_run: DataFrame | None = None) -> list:
    """Aggregate THIS run's verdict rows into per-bucket summary rows and
    append them to the lineage sidecar — the COMMIT that makes the run's
    (run_id, bucket) pairs visible to read_verdicts. Returns the summary
    rows (<= n_buckets of them) so callers can derive totals without a
    read-back job. Pass `this_run` (a frame already scoped to this run's
    rows, e.g. persisted) to aggregate from it instead of reading the run's
    partition. A run that wrote no rows (empty corpus or micro-batch) has
    nothing a consumer could see: it commits nothing and returns []."""
    if this_run is None:
        this_run = _read_run(spark, output_dir, run_id)
        if this_run is None:
            return []
    summary_rows = _bucket_summary(this_run).collect()
    _append_lineage_rows(spark, output_dir, run_id, scan_elapsed,
                         summary_rows)
    return summary_rows


def _check_drift_args(fail_on_drift: bool, profile_cols, drift_baseline_run) -> None:
    """Fail CLOSED at call time: without profile_cols and a baseline run the
    gate could never fire, and fail_on_drift would be a silent no-op — the
    operator believes the pipeline is protected when nothing is checked."""
    if fail_on_drift and not (profile_cols and drift_baseline_run):
        raise ValueError(
            "fail_on_drift=True requires both profile_cols and "
            "drift_baseline_run — without them the drift gate never "
            "evaluates and the flag would silently protect nothing")


def run_validation(
    spark: SparkSession,
    docs: DataFrame,
    rule: dict,
    output_dir: str,
    assets: DataFrame | None = None,
    n_buckets: int = 64,
    resume: bool = True,
    run_id: str | None = None,
    profile_cols: list[str] | None = None,
    drift_baseline_run: str | None = None,
    fail_on_drift: bool = False,
    drift_exclude_metrics: tuple[str, ...] = (),
) -> dict:
    """Execute the single-pass job; returns the metrics dict that is also
    persisted to the lineage sidecar. Idempotent under resume.

    profile_cols: opt-in numeric-column profiling — ONE extra agg pass over
    the input writes a run_id-stamped stats_profile sidecar next to the
    lineage table. With drift_baseline_run set, the profile is additionally
    gated against that earlier run's sidecar via stats.drift_report; the
    per-(column, metric) verdict rows land in <output_dir>/drift/ and the
    drifted count in the metrics dict — the production loop is "each run
    profiles itself and gates against run N-1". fail_on_drift raises
    DriftGateError AFTER the verdicts, profile, and drift verdict rows are
    all persisted (an orchestrator halts the pipeline but keeps the full
    forensic record; the streaming sink's gate, by contrast, blocks the
    batch's commit itself — see streaming.commit_micro_batch)."""
    _check_drift_args(fail_on_drift, profile_cols, drift_baseline_run)
    rule = normalize_rule(rule)
    meta_validate(rule)
    import uuid

    violation_dir = os.path.join(output_dir, "violations")
    lineage_dir = os.path.join(output_dir, "lineage")  # doubles as per-bucket summary
    # unique per attempt: two attempts in the same second must not share a
    # run_id, or an orphaned attempt would become visible via the other's
    # lineage row
    run_id = run_id or f"{time.strftime('%Y%m%dT%H%M%S')}-{uuid.uuid4().hex[:6]}"

    done = _completed_buckets(spark, lineage_dir) if resume else set()
    # COVERAGE of this run's bucket range, not a count: the lineage sidecar
    # is run- and config-agnostic, so a directory holding buckets {4..9}
    # from a 16-bucket writer must NOT convince an n_buckets=4 run that its
    # own buckets 0-3 are done (len(done) >= n_buckets would)
    fully_resumed = set(range(n_buckets)) <= done

    # THE single pass over the input: everything else reads the compact
    # verdict table it writes. 4x write partitions for n_buckets distinct
    # keys: hashing k keys into exactly k partitions leaves ~e^-1 of them
    # empty and the hottest task carrying 3-4 buckets (measured maxload 4
    # at 64->64 vs 2 at 64->256) — the write stage tail is the straggler
    # (guide §2.5). A fully resumed run (every bucket already has a lineage
    # row, this run's or another writer's — streaming and batch share the
    # sidecar) has no input left to scan and skips the pass.
    scan_elapsed = 0.0 if fully_resumed else _write_verdicts(
        docs, rule, output_dir, run_id, n_buckets, 4 * n_buckets, done)

    # Everything below reads the COMMITTED view (prior runs + this run's
    # just-written partition — consuming own rows pre-commit is safe: if
    # the lineage append fails, run_validation raises and nothing was
    # published). Cache the compact table once — it is ~1% of input size
    # by construction, exactly the table a production job keeps hot.
    t1 = time.time()
    this_run = None if fully_resumed else _read_run(spark, output_dir, run_id)
    if this_run is None:
        # nothing scanned (fully resumed, or an empty input): the committed
        # view is all there is, and this run has nothing to commit
        cached = [verdicts := read_verdicts(spark, output_dir).persist()]
    # does any OTHER run's commit exist? One FS RPC — when it doesn't (the
    # common fresh-output case), the committed-view re-read, its lineage
    # broadcast and the union are skipped outright
    elif done or _path_exists(spark, lineage_dir):
        this_run = this_run.persist()
        # persist the UNION too: both consumers (violations write + fused
        # probe) scan it, and without this the prior runs' half re-reads
        # parquet and re-runs the lineage semi-join per consumer
        verdicts = this_run.unionByName(
            read_verdicts(spark, output_dir)
            .filter(F.col("run_id") != run_id)).persist()
        cached = [this_run, verdicts]
    else:
        this_run = verdicts = this_run.persist()
        cached = [this_run]

    # ONE action computes the per-bucket commit summary AND the uniqueness
    # + referential probes: all three reduce to at most n_buckets + 2 rows,
    # so a schema-harmonized unionByName + collect replaces three jobs.
    # Every extra action carries fixed scheduler/plan-build latency that is
    # identical at every parallelism level; at bench scale that constant
    # pollutes the N->4N end-to-end scaling figure (BENCH/BASELINE.md e2e
    # gate) — fewer actions = less level-independent constant (guide §1.2).
    # The commit (lineage append) happens right after, driver-side, so the
    # crash window between the verdict write and the commit spans this one
    # action: the summary and both probe jobs. Uncommitted verdict files
    # stay invisible and a resumed run re-scans their buckets.
    parts = []
    if this_run is not None:
        parts.append(_bucket_summary(this_run).select(
            F.lit("bucket").alias("metric"),
            F.col("bucket").cast("long").alias("a"),
            F.col("n_rows").cast("long").alias("b"),
            F.col("n_valid").cast("long").alias("c"),
            F.col("n_violations").cast("long").alias("d"),
            F.col("n_bytes").cast("long").alias("e")))
    parts.append(
        verdicts.groupBy("doc_id").count().filter("count > 1")
        .agg(F.lit("uniqueness").alias("metric"),
             F.lit(None).cast("long").alias("a"),
             F.count(F.lit(1)).cast("long").alias("b"),
             F.sum("count").cast("long").alias("c"),
             F.lit(None).cast("long").alias("d"),
             F.lit(None).cast("long").alias("e")))
    if assets is not None:
        refs = verdicts.select(F.explode("media_refs").alias("media_ref"))
        parts.append(
            refs.join(F.broadcast(assets.select("media_ref")),
                      "media_ref", "left_anti")
            .agg(F.lit("referential").alias("metric"),
                 F.lit(None).cast("long").alias("a"),
                 F.count(F.lit(1)).cast("long").alias("b"),
                 F.lit(None).cast("long").alias("c"),
                 F.lit(None).cast("long").alias("d"),
                 F.lit(None).cast("long").alias("e")))
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.unionByName(p)
    fused_rows = fused.collect()
    summary_rows = [{"bucket": r["a"], "n_rows": r["b"], "n_valid": r["c"],
                     "n_violations": r["d"], "n_bytes": r["e"]}
                    for r in fused_rows if r["metric"] == "bucket"]
    probe_rows = {r["metric"]: r for r in fused_rows
                  if r["metric"] != "bucket"}
    commit_elapsed = 0.0
    if this_run is not None:
        _append_lineage_rows(spark, output_dir, run_id, scan_elapsed,
                             summary_rows)
        commit_elapsed = time.time() - t1

    # Exploded violation rows (overwritten from the compact table — cheap).
    t1 = time.time()
    viols = (verdicts.filter(F.size("violations") > 0)
             .select("doc_id", "bucket", F.explode("violations").alias("v"))
             .select("doc_id", "bucket", "v.path", "v.keyword", "v.message"))
    viols.write.mode("overwrite").parquet(violation_dir)
    violations_elapsed = time.time() - t1

    # this run's scan totals are the sums of its own commit summary rows
    scan_rows = sum(r["n_rows"] for r in summary_rows)
    scan_valid = sum(r["n_valid"] for r in summary_rows)
    scan_viol = sum(r["n_violations"] for r in summary_rows)
    metrics: dict = {
        "run_id": run_id,
        "n_buckets": n_buckets,
        # only buckets THIS run would have scanned count as resumed work —
        # foreign buckets outside range(n_buckets) (a wider writer sharing
        # the sidecar) never gated this run's scan and must not inflate it
        "resumed_buckets": len(done & set(range(n_buckets))),
        "scan_elapsed_sec": scan_elapsed,
        "scan_rows": scan_rows,
        "scan_valid": scan_valid,
        "scan_violations": scan_viol,
    }

    n_rows, n_valid, n_viol = scan_rows, scan_valid, scan_viol
    if done:  # totals include previously-completed buckets from the sidecar
        prior_lineage = spark.read.parquet(lineage_dir)
        if this_run is not None:
            # rows this attempt just committed are already in summary_rows
            prior_lineage = prior_lineage.filter(F.col("run_id") != run_id)
        prior = (prior_lineage
                 .agg(F.sum("n_rows"), F.sum("n_valid"), F.sum("n_violations")).head())
        n_rows += prior[0] or 0
        n_valid += prior[1] or 0
        n_viol += prior[2] or 0
    metrics.update(n_rows=n_rows, n_valid=n_valid, n_violations=n_viol)

    dup = probe_rows["uniqueness"]
    metrics.update(duplicate_doc_ids=dup["b"] or 0,
                   duplicate_rows=int(dup["c"] or 0))
    if assets is not None:
        metrics["dangling_refs"] = probe_rows["referential"]["b"]
    # the probes ride the fused commit action: their cost is inside
    # commit_elapsed_sec (phase attribution note: BENCH/BASELINE.md)
    metrics["commit_elapsed_sec"] = round(commit_elapsed, 3)
    metrics["violations_elapsed_sec"] = round(violations_elapsed, 3)

    drifted: list = []
    if profile_cols:
        from xema_spark import stats as _stats

        drifted = _stats.profile_and_score(
            docs, profile_cols, output_dir, run_id, drift_baseline_run,
            exclude_metrics=drift_exclude_metrics)
        if drift_baseline_run is not None:
            metrics["drifted_metrics"] = len(drifted)
            metrics["drift_baseline_run"] = drift_baseline_run

    for c in cached:
        c.unpersist()
    _write_text(spark, os.path.join(output_dir, f"metrics_{run_id}.json"),
                json.dumps(metrics, indent=2))
    if fail_on_drift and drifted:
        raise DriftGateError(
            f"run {run_id} drifted vs baseline {drift_baseline_run!r} on "
            f"{drifted}; verdicts, profile, and drift report are persisted "
            f"under {output_dir}")
    return metrics


def main() -> None:
    """spark-submit entrypoint (north_rule: spark-submit --py-files)."""
    import argparse

    from xema_spark.datagen import FLAGSHIP_RULE
    from xema_spark.session import get_spark

    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents table path (parquet/iceberg)")
    p.add_argument("--assets", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--rule-json", default=None, help="path to JSON-Schema rule file")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--profile-cols", default=None,
                   help="comma-separated numeric columns to stats-profile "
                        "into the run's sidecar")
    p.add_argument("--drift-baseline", default=None,
                   help="run_id whose sidecar profile this run gates against")
    p.add_argument("--fail-on-drift", action="store_true",
                   help="exit nonzero (DriftGateError) when the drift gate "
                        "fires; all outputs are persisted first")
    args = p.parse_args()

    spark = get_spark(app_name="xema_spark_runner")
    rule = FLAGSHIP_RULE
    if args.rule_json:
        with open(args.rule_json) as f:
            rule = json.load(f)
    # load_table resolves the uri scheme (iceberg:/parquet:/jsonl:/csv: or a
    # bare path) — the CLI's help promises iceberg input, so honor it
    from xema_spark.io import load_table
    docs = load_table(spark, args.input)
    assets = load_table(spark, args.assets) if args.assets else None
    metrics = run_validation(
        spark, docs, rule, args.output, assets=assets,
        n_buckets=args.buckets, resume=not args.no_resume,
        profile_cols=(args.profile_cols.split(",") if args.profile_cols
                      else None),
        drift_baseline_run=args.drift_baseline,
        fail_on_drift=args.fail_on_drift)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
