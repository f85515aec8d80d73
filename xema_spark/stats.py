"""Dataset-scope validation operators (SURVEY.md §2.4, driven by north_rule).

The reference has no table scope at all (it validates one value at a time);
these operators exist only at dataset scope and are expressed directly on the
public DataFrame API so Catalyst emits partial+final hash aggregation,
broadcast-vs-SMJ join selection, and HLL sketches for free:

- column stats: one `agg` pass — count / null count / distinct (HLL via
  approx_count_distinct, exact variant for oracle tests) / min / max / moments
- quantile sketches: percentile_approx (Spark's built-in approximate
  quantiles) — the KLL-per-partition-then-merge plan from PAPERS.md collapses
  to this single built-in
- uniqueness: groupBy(key).count HAVING >1 — Catalyst's partial (map-side)
  aggregation is exactly the "salted pre-agg" the north_rule asks for; AQE
  skew-join handles residual skew
- referential: left-anti join of fact refs vs the dimension; broadcast hint
  for small dims, AQE skew split otherwise, optional explicit salting for a
  pathological hot-key probe side
- distribution drift: fixed-bin histograms (pure Column arithmetic) compared
  via PSI, and a quantile-vector distance (KS-ish) variant
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def column_stats(df: DataFrame, cols: list[str] | None = None,
                 exact_distinct: bool = False) -> DataFrame:
    """One aggregation pass over all requested columns; long-format output
    (column, n_rows, n_nulls, n_distinct, min, max)."""
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"{c}__distinct"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"{c}__max"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args}) as (column, n_nulls, n_distinct, min_value, max_value)",
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


def numeric_moments(df: DataFrame, col: str) -> DataFrame:
    c = F.col(col)
    return df.agg(
        F.count(c).alias("n"),
        F.avg(c).alias("mean"),
        F.stddev_samp(c).alias("stddev"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.skewness(c).alias("skewness"),
        F.kurtosis(c).alias("kurtosis"),
    )


def quantile_sketch(df: DataFrame, col: str,
                    qs: list[float] = (0.01, 0.25, 0.5, 0.75, 0.99),
                    accuracy: int = 10000) -> list[float]:
    row = df.agg(F.percentile_approx(col, list(qs), accuracy).alias("q")).head()
    return list(row["q"])


def uniqueness_violations(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Keys appearing more than once. Partial+final hash aggregation is what
    Catalyst already emits for groupBy().count() — the map-side combine IS the
    salted pre-aggregation at executor granularity."""
    return (df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_dups"))
              .filter(F.col("n_dups") > 1))


def _row_salt(salt_buckets: int):
    """Per-row salt that is unique-row-key-free: monotonically_increasing_id
    keeps a per-partition ordinal in its low bits, so pmod cycles 0..N-1
    round-robin within every scan partition — byte-identical duplicate rows
    still land on DIFFERENT salts. A column-hash salt (the previous
    implementation) re-concentrates a hot key whose rows are also
    byte-identical onto one reducer; this makes the N-way spread
    unconditional. The salt value never affects the join RESULT (each fact
    row matches the dim copy carrying its own salt), so task-retry
    non-determinism of the id is harmless."""
    return F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))


def referential_violations(
    fact: DataFrame,
    fk_col: str,
    dim: DataFrame,
    key_col: str,
    broadcast_dim: bool = True,
    salt_buckets: int = 0,
) -> DataFrame:
    """Fact rows whose fk has no match in dim (left-anti). broadcast_dim=True
    for small dims (one-sided join, no shuffle of the 100TB side at all).
    salt_buckets>0 explodes the dim side into N salted copies so a sort-merge
    anti-join of a skewed probe side spreads hot keys over N reducers
    (north_rule's explicit skew handling; AQE skew-join is the backstop)."""
    fact_nn = fact.filter(F.col(fk_col).isNotNull())
    if broadcast_dim:
        return fact_nn.join(F.broadcast(dim), fact_nn[fk_col] == dim[key_col], "left_anti")
    if salt_buckets > 0:
        salted_fact = fact_nn.withColumn("__salt", _row_salt(salt_buckets))
        salted_dim = dim.select(key_col).distinct().withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
        return (salted_fact.join(
            salted_dim,
            (salted_fact[fk_col] == salted_dim[key_col])
            & (salted_fact["__salt"] == salted_dim["__salt"]),
            "left_anti",
        ).drop("__salt"))
    return fact_nn.join(dim.select(key_col).distinct(),
                        fact_nn[fk_col] == dim[key_col], "left_anti")


def histogram(df: DataFrame, col: str, lo: float, hi: float, n_bins: int) -> DataFrame:
    """Fixed-bin histogram as pure Column arithmetic (one agg pass).
    Out-of-range values clamp into the edge bins."""
    c = F.col(col).cast("double")
    width = (hi - lo) / n_bins
    bin_id = F.least(F.lit(n_bins - 1),
                     F.greatest(F.lit(0), F.floor((c - F.lit(lo)) / F.lit(width)).cast("int")))
    return (df.filter(c.isNotNull())
              .groupBy(bin_id.alias("bin"))
              .agg(F.count(F.lit(1)).alias("n")))


def psi(df_a: DataFrame, df_b: DataFrame, col: str, lo: float, hi: float,
        n_bins: int = 10, eps: float = 1e-6) -> float:
    """Population Stability Index between two distributions of `col`.
    Two small aggregations (n_bins rows each) + driver-side arithmetic — the
    100TB sides are reduced before anything reaches the driver."""
    import math

    ha = {r["bin"]: r["n"] for r in histogram(df_a, col, lo, hi, n_bins).collect()}
    hb = {r["bin"]: r["n"] for r in histogram(df_b, col, lo, hi, n_bins).collect()}
    ta = max(1, sum(ha.values()))
    tb = max(1, sum(hb.values()))
    out = 0.0
    for b in range(n_bins):
        pa = max(eps, ha.get(b, 0) / ta)
        pb = max(eps, hb.get(b, 0) / tb)
        out += (pa - pb) * math.log(pa / pb)
    return out


def quantile_drift(df_a: DataFrame, df_b: DataFrame, col: str,
                   qs: list[float] | None = None) -> float:
    """Max absolute difference between the two quantile vectors, normalized by
    the pooled IQR — a KS-flavoured drift score from two sketch passes."""
    qs = qs or [i / 20 for i in range(1, 20)]
    qa = quantile_sketch(df_a, col, qs)
    qb = quantile_sketch(df_b, col, qs)
    iqr = max(1e-9, (qa[int(len(qs) * 0.75)] - qa[int(len(qs) * 0.25)]))
    return max(abs(a - b) for a, b in zip(qa, qb)) / iqr


def stats_profile(df: DataFrame, cols: list[str],
                  qs: tuple[float, ...] = (0.05, 0.25, 0.5, 0.75, 0.95),
                  exact: bool = False, accuracy: int = 10000) -> DataFrame:
    """Numeric-column profile in ONE aggregation pass, long format: one row
    per column with (n, n_nulls, n_distinct, mean, stddev, min/max, the
    quantile vector at `qs`, and the probe vector itself). This is the unit
    a run persists as its stats sidecar (`write_stats_sidecar`) and the
    input to cross-run `drift_report`.

    Scale: a single partial+final hash agg over the corpus — distinct via
    HLL (approx_count_distinct) and quantiles via percentile_approx
    (KLL-style mergeable sketch) by default, so the 100 TB side reduces to
    len(cols) rows before anything is shuffled or persisted. `exact=True`
    switches to count_distinct + F.percentile (exact linear interpolation,
    == DuckDB quantile_cont) for oracle parity at test scale."""
    probs = [float(q) for q in qs]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        # try_cast: a non-numeric value profiles as null instead of killing
        # the whole run under ANSI mode
        d = F.col(c).try_cast("double")
        aggs += [
            F.count(d).alias(f"{c}__n"),
            # coalesce like stddev below: over an EMPTY frame sum() is NULL,
            # and a NULL count must read as 0, not poison drift scores
            F.coalesce(F.sum(d.isNull().cast("long")), F.lit(0)).alias(f"{c}__nulls"),
            (F.count_distinct(d) if exact
             else F.approx_count_distinct(d)).alias(f"{c}__distinct"),
            F.avg(d).alias(f"{c}__mean"),
            F.coalesce(F.stddev_samp(d), F.lit(0.0)).alias(f"{c}__stddev"),
            F.min(d).alias(f"{c}__min"),
            F.max(d).alias(f"{c}__max"),
            (F.percentile(d, F.array(*[F.lit(p) for p in probs])) if exact
             else F.percentile_approx(d, probs, accuracy)).alias(f"{c}__q"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__mean, "
        f"{c}__stddev, {c}__min, {c}__max, {c}__q" for c in cols)
    return (wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args}) as "
        "(column, n, n_nulls, n_distinct, mean, stddev, min_value, "
        "max_value, quantiles)")
        .withColumn("q_probs", F.array(*[F.lit(p) for p in probs]))
        .select("column", "n_rows", "n", "n_nulls", "n_distinct", "mean",
                "stddev", "min_value", "max_value", "quantiles", "q_probs"))


def write_stats_sidecar(profile: DataFrame, output_dir: str,
                        run_id: str) -> None:
    """Persist a run's column profile next to the runner's verdict/lineage
    sidecars (`<output_dir>/stats/run_id=<id>/`) — the baseline a later run
    gates itself against. One Hive-style partition directory per run keeps
    full history AND makes the write idempotent: a resumed/retried attempt
    with the same run_id overwrites its own partition instead of appending
    duplicate rows that would fan out a later drift join. Readers select a
    run explicitly (no last-writer races) with partition pruning on run_id."""
    import os

    (profile.coalesce(1).write.mode("overwrite")
        .parquet(os.path.join(output_dir, "stats", f"run_id={run_id}")))


def read_stats_sidecar(spark, output_dir: str, run_id: str) -> DataFrame:
    """One run's profile, lenient: an absent run reads as ZERO rows (unlike
    read_baseline_profile, which fails closed for gate use). The common case
    reads the run's partition by direct path — O(1) listing even under a
    streaming sink where every micro-batch adds a partition; only a missing
    partition falls back to the full-directory scan that preserves the
    empty-frame contract (and its schema) without hardcoding one here."""
    import os

    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(
            os.path.join(output_dir, "stats", f"run_id={run_id}"))
    except AnalysisException:
        return (spark.read.parquet(os.path.join(output_dir, "stats"))
                .filter(F.col("run_id") == run_id).drop("run_id"))


#: drift_report metrics whose score compares ABSOLUTE sizes (total row
#: count, distinct-value count). They are the right gate when current and
#: baseline profiled comparable corpora (batch run N vs run N-1), and the
#: wrong one when a small micro-batch is scored against a full backfill —
#: a healthy 10k-row batch vs a 1M-doc baseline scores row_count=100 and
#: is "drifted" forever. The streaming gate excludes these by default.
SCALE_DEPENDENT_METRICS = ("row_count", "distinct_ratio")


def read_baseline_profile(spark, output_dir: str, run_id: str,
                          require_cols: list[str] | None = None) -> DataFrame:
    """Read ONE run's stats-sidecar partition by its direct path
    (`<output_dir>/stats/run_id=<id>`), not by listing the whole stats/
    directory — under a streaming sink every committed micro-batch adds a
    partition, so a full-directory read per batch costs O(n_batches) listing
    per trigger (O(n²) cumulative). The partition is immutable, so the
    direct read is exact.

    Fails CLOSED, for use as a drift-gate baseline: a missing partition
    (typo'd run_id, baseline never written) raises ValueError instead of
    returning an empty frame whose inner join in drift_report would report
    drifted_metrics=0 — indistinguishable from a clean check. With
    require_cols, a baseline that never profiled those columns raises too."""
    import os

    from pyspark.errors import AnalysisException

    path = os.path.join(output_dir, "stats", f"run_id={run_id}")
    try:
        base = spark.read.parquet(path)
        have = {r["column"] for r in base.select("column").collect()}
    except AnalysisException as ex:
        raise ValueError(
            f"drift baseline run {run_id!r} has no profile rows under "
            f"{output_dir}/stats — refusing to gate against a missing "
            "baseline") from ex
    missing = [c for c in (require_cols or []) if c not in have]
    if missing:
        raise ValueError(
            f"drift baseline run {run_id!r} has no profile rows for "
            f"columns {missing} under {output_dir}/stats — refusing to "
            "gate against a missing baseline")
    return base


def profile_and_score(df: DataFrame, cols: list[str], output_dir: str,
                      run_id: str, baseline_run: str | None = None,
                      exclude_metrics: tuple[str, ...] = (),
                      skip_empty: bool = False) -> list[tuple[str, str]] | None:
    """The profile and drift steps shared by the batch and streaming gates:
    profile `df` (one agg pass), write it as `run_id`'s stats sidecar and,
    with `baseline_run`, score it against that run's profile. The verdict
    rows go to `<output_dir>/drift/run_id=<run_id>` (a direct partition
    overwrite, so a retry or replay rewrites its own rows). Returns the
    drifted (column, metric) pairs, collected once ([] without a baseline).

    The baseline is read before anything is written and fails closed
    (read_baseline_profile). exclude_metrics drops whole metric families
    from both the persisted report and the result (see
    SCALE_DEPENDENT_METRICS). skip_empty: a `df` with no rows writes
    nothing and returns None — an empty micro-batch carries no data
    signal, and scoring it would read every distribution as collapsed."""
    import os

    prof = stats_profile(df, cols).localCheckpoint()
    base = (None if baseline_run is None else
            read_baseline_profile(df.sparkSession, output_dir, baseline_run, cols))
    if skip_empty and prof.head()["n_rows"] == 0:
        return None
    write_stats_sidecar(prof, output_dir, run_id)
    if base is None:
        return []
    report = drift_report(prof, base)
    if exclude_metrics:
        report = report.filter(~F.col("metric").isin(*exclude_metrics))
    report = (report.withColumn("baseline_run", F.lit(baseline_run))
              .localCheckpoint())
    report.write.mode("overwrite").parquet(
        os.path.join(output_dir, "drift", f"run_id={run_id}"))
    return [(r["column"], r["metric"])
            for r in report.filter("drifted").select("column", "metric").collect()]


def drift_report(current: DataFrame, baseline: DataFrame,
                 mean_shift_tol: float = 0.25,
                 null_frac_tol: float = 0.05,
                 distinct_ratio_tol: float = 2.0,
                 quantile_shift_tol: float = 0.25,
                 row_count_ratio_tol: float = 2.0,
                 eps: float = 1e-9) -> DataFrame:
    """Cross-run distribution-drift gate: join two `stats_profile` frames on
    column name and emit one row per (column, metric) with the baseline /
    current values, a scale-free score, and the drift verdict:

    - row_count:      max(cur/base, base/cur) of the profiled row totals
                      (n + n_nulls) — catches a current run whose corpus
                      collapsed (or exploded) even when the surviving rows'
                      distribution is unchanged
    - mean_shift:     |Δmean| / pooled stddev (two-sample z-flavoured)
    - null_frac:      |Δ null fraction| (absolute)
    - distinct_ratio: max(cur/base, base/cur) of the distinct counts
    - quantile_shift: max_i |Δq_i| / baseline quantile range (KS-flavoured,
                      computed with zip_with over the two sketch vectors)

    The verdict fails CLOSED: a NULL score (e.g. a mean/quantile computed
    over an empty or all-null current corpus) counts as drifted rather than
    vanishing from `filter("drifted")`.

    Everything is Column arithmetic over len(cols)-row frames — the corpus
    passes already happened inside stats_profile, so gating a 10^12-doc run
    against its previous run costs two tiny frames and no extra scan."""
    cur = current.select(
        F.col("column"),
        *[F.col(c).alias(f"cur_{c}") for c in
          ("n", "n_nulls", "n_distinct", "mean", "stddev", "quantiles")])
    base = baseline.select(
        F.col("column"),
        *[F.col(c).alias(f"base_{c}") for c in
          ("n", "n_nulls", "n_distinct", "mean", "stddev", "quantiles")])
    # LEFT join on the current side: a profiled column with NO baseline row
    # must surface as drifted (fail closed — it was never actually checked),
    # not vanish from the report the way an inner join would. The current
    # side is the contract (what this run wants gated); baseline-only
    # columns are an operator's deliberate choice not to gate and stay out.
    # base_n is never NULL in a real profile row (F.count), so its absence
    # identifies the missing-baseline case exactly; the explicit flag keeps
    # greatest()'s null-skipping from laundering a missing side into a
    # plausible-looking ratio score.
    j = cur.join(base, "column", "left")
    base_missing = F.col("base_n").isNull()

    pooled_std = (F.col("base_stddev") + F.col("cur_stddev")) / 2 + F.lit(eps)
    mean_score = F.abs(F.col("cur_mean") - F.col("base_mean")) / pooled_std
    cur_nf = F.col("cur_n_nulls") / (F.col("cur_n") + F.col("cur_n_nulls") + F.lit(eps))
    base_nf = F.col("base_n_nulls") / (F.col("base_n") + F.col("base_n_nulls") + F.lit(eps))
    null_score = F.abs(cur_nf - base_nf)
    d_cur = F.greatest(F.col("cur_n_distinct"), F.lit(1)).cast("double")
    d_base = F.greatest(F.col("base_n_distinct"), F.lit(1)).cast("double")
    distinct_score = F.greatest(d_cur / d_base, d_base / d_cur)
    q_range = (F.array_max("base_quantiles") - F.array_min("base_quantiles")
               + F.lit(eps))
    q_score = (F.array_max(F.zip_with(
        "cur_quantiles", "base_quantiles", lambda a, b: F.abs(a - b)))
        / q_range)
    rc_cur = F.greatest(F.col("cur_n") + F.col("cur_n_nulls"), F.lit(1)).cast("double")
    rc_base = F.greatest(F.col("base_n") + F.col("base_n_nulls"), F.lit(1)).cast("double")
    rc_score = F.greatest(rc_cur / rc_base, rc_base / rc_cur)

    def metric_row(name, base_v, cur_v, score, tol):
        # a missing baseline row nulls the score (instead of letting
        # greatest()-based ratios compute something finite) and the
        # NULL-score coalesce below then reads it as drifted
        score = F.when(~base_missing, score)
        return j.select(
            "column", F.lit(name).alias("metric"),
            F.round(base_v.cast("double"), 6).alias("baseline_value"),
            F.round(cur_v.cast("double"), 6).alias("current_value"),
            F.round(score, 6).alias("score"),
            # NULL score (empty/all-null side) => drifted, never a silent pass
            F.coalesce(score > F.lit(tol), F.lit(True)).alias("drifted"))

    return (metric_row("mean_shift", F.col("base_mean"), F.col("cur_mean"),
                       mean_score, mean_shift_tol)
            .unionByName(metric_row(
                "row_count", F.col("base_n") + F.col("base_n_nulls"),
                F.col("cur_n") + F.col("cur_n_nulls"),
                rc_score, row_count_ratio_tol))
            .unionByName(metric_row("null_frac", base_nf, cur_nf,
                                    null_score, null_frac_tol))
            .unionByName(metric_row("distinct_ratio", F.col("base_n_distinct"),
                                    F.col("cur_n_distinct"), distinct_score,
                                    distinct_ratio_tol))
            .unionByName(metric_row("quantile_shift",
                                    F.array_max("base_quantiles"),
                                    F.array_max("cur_quantiles"),
                                    q_score, quantile_shift_tol)))


def per_partition_summary(validated: DataFrame, valid_col: str = "valid",
                          violations_col: str = "violations") -> DataFrame:
    """Per-physical-partition pass/fail summary in one groupBy over the
    already-validated frame (north_rule's per-partition verdict table)."""
    has_viols = violations_col in validated.columns
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(valid_col).cast("long")).alias("n_valid"),
        F.sum((~F.col(valid_col)).cast("long")).alias("n_invalid"),
    ]
    if has_viols:
        aggs.append(F.sum(F.size(violations_col)).alias("n_violations"))
    return (validated
            .withColumn("partition_id", F.spark_partition_id())
            .groupBy("partition_id").agg(*aggs))


def worst_partitions(summary: DataFrame, k: int = 10,
                     metric: str = "n_invalid",
                     id_col: str = "partition_id") -> DataFrame:
    """Top-k worst partitions by a violation metric (SURVEY §2.4): orderBy +
    limit compiles to TakeOrderedAndProject — each task keeps a k-row heap
    and the driver merges k*tasks rows, so the global sort is never
    materialized. Tie-break on the partition id keeps the k-th place
    deterministic for oracle comparison."""
    return summary.orderBy(F.desc(metric), F.asc(id_col)).limit(k)


def sample_violations(violations: DataFrame, group_cols: list[str],
                      order_cols: list[str], k: int = 5,
                      partition_bound: bool = True) -> DataFrame:
    """Bounded violation sample: at most k rows per group (e.g. per keyword
    or per bucket), deterministically ordered — the triage view a 10^12-doc
    run needs instead of an unbounded violation dump.

    Skew design: group keys like `keyword` have constant cardinality, so a
    bare row_number window partitioned by them would shuffle EVERY violation
    row in the corpus into n_groups reducer tasks — one hot keyword = one
    reducer eating the whole violation stream (the same single-digit-
    partition window skew removed from sim_knn_threshold in r2). Instead:

    stage 1 (partition_bound) groups by (group, spark_partition_id()) and
    keeps the k smallest rows per group PER INPUT PARTITION via
    slice(sort_array(collect_list(key)), 1, k). The hot group's rows now
    hash across n_input_partitions reducer keys instead of one, and the
    global top-k per group is provably a subset of the union of per-partition
    top-ks (total order on (order_cols, row)).

    stage 2 runs the exact k-per-group row_number over the survivors —
    at most k * n_input_partitions rows per group, never the raw stream.

    Tie semantics: ties in order_cols break on the remaining row columns in
    stage 1 (struct comparison), so callers wanting oracle-stable output
    should pass order_cols that are unique within a group (as the bare-window
    form already required)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(*[F.asc(c) for c in order_cols])
    src = violations
    if partition_bound:
        key = F.struct(
            *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
            F.struct(*[F.col(c) for c in violations.columns]).alias("__row"))
        bounded = (violations
                   .groupBy(F.spark_partition_id().alias("__pid"), *group_cols)
                   .agg(F.slice(F.sort_array(F.collect_list(key)), 1, k)
                        .alias("__top")))
        src = (bounded.select(F.explode("__top").alias("__t"))
               .select("__t.__row.*"))
    return (src.withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= k))


def grouped_quantiles(df: DataFrame, group_col: str, value_col: str,
                      qs: tuple[float, ...] = (0.25, 0.5, 0.75)) -> DataFrame:
    """Per-group EXACT quantiles via applyInPandas (SURVEY §2.6's custom
    per-group aggregation escape hatch, Arrow-batched): numpy linear
    interpolation, identical to SQL quantile_cont. The built-in
    percentile_approx path (quantile_sketch) is the scale default — this is
    the exact/custom-agg variant for groups that fit an executor (each group
    becomes one pandas frame; bound group size before using it on skewed
    keys)."""
    import pandas as pd  # noqa: F401 (executor-side)

    schema = (f"{group_col} string, "
              + ", ".join(f"q{int(q * 100)} double" for q in qs))

    def _agg(pdf):
        import numpy as np
        import pandas as pd
        vals = pdf[value_col].astype(float).to_numpy()
        row = {group_col: [str(pdf[group_col].iloc[0])]}
        for q in qs:
            row[f"q{int(q * 100)}"] = [float(np.quantile(vals, q))]
        return pd.DataFrame(row)

    return df.select(group_col, value_col).groupBy(group_col) \
        .applyInPandas(_agg, schema)
