"""The workloads: inputs, operations and their correctness checks.

A workload materializes its inputs from the seed (`setup`, timed as set-up
and repeated), opens them as DataFrames (`prepare`), and then hands out
*rounds*: lists of operations that the runner times one by one. A round is
the unit of composition: the runner only stops between rounds, so every run
measures the same mix of operations (a whole stream of micro-batches, a
whole pass over the queries). Checks run outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession, functions as F

import inputs
from spans import Hook


class CheckFailed(AssertionError):
    """An operation's output disagrees with its oracle."""


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


@dataclass
class Op:
    span: str                       # name of the operation's span when traced
    docs: int                       # input documents the operation processes
    run: Callable[[], Any]          # the timed call
    check: Callable[[Any], None]    # raises CheckFailed; outside timing
    first_phase: str | None = None  # phase the operation starts in when traced
    index: int = 0                  # position in its round


@dataclass
class Round:
    ops: list[Op]
    finish: Callable[[], None] = lambda: None   # round-level check
    stored_bytes: Callable[[], int] = lambda: 0

    @staticmethod
    def join(rounds: list[Round]) -> Round:
        """The rounds back to back, as one."""
        def finish():
            for r in rounds:
                r.finish()
        return Round([op for r in rounds for op in r.ops], finish,
                     lambda: sum(r.stored_bytes() for r in rounds))


class Workload:
    name = ""
    why = ""

    def __init__(self, seed: int, work: str, cache: str):
        self.seed = seed
        self.work = work      # wiped at the start of every run
        self.cache = cache    # oracle answers, kept across runs
        self.rng = random.Random(seed)
        self._n_out = 0

    def fresh_dir(self, tag: str) -> str:
        self._n_out += 1
        d = os.path.join(self.work, "out", f"{tag}-{self._n_out}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def setup(self, spark: SparkSession, root: str) -> None:
        raise NotImplementedError

    def prepare(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def verify_setup(self) -> None:
        """One-off oracle work after set-up (outside every timing)."""

    def rounds(self):
        raise NotImplementedError

    def warm_round(self) -> Round:
        """The first round in a fresh session, run untimed before the loop."""
        return next(self.rounds())

    def hooks(self, modules) -> list[tuple[list, str, dict[str, Hook]]]:
        """(modules binding a function, its name, {operation span: Hook})."""
        return []


# ---------------------------------------------------------------------------

class ValidateAndStream(Workload):
    """One corpus through both entry points of the runner's commit core:
    a `run_validation` call over all of it, then the same documents as a
    stream of micro-batches through `streaming.commit_micro_batch`."""
    name = "validate_and_stream"
    why = ("run_validation (the nightly job) and the same corpus as a stream "
           "of micro-batches: runner scan/commit, stats profile, streaming")
    N_DOCS = 20_000
    N_BATCHES = 5
    N_BUCKETS = 16

    def __init__(self, seed, work, cache):
        super().__init__(seed, work, cache)
        # the seed sets the corpus size (datagen's content is a closed form
        # of the row index) and the order the micro-batches arrive in
        self.n = self.N_DOCS + self.rng.randrange(200)
        self.order = list(range(self.N_BATCHES))
        self.rng.shuffle(self.order)
        # rows per spark.range partition, as Range splits [0, n)
        p, n = self.N_BATCHES, self.n
        self.batch_docs = [(b + 1) * n // p - b * n // p for b in self.order]

    def setup(self, spark, root):
        from xema_spark import stats
        from xema_spark.datagen import gen_assets, gen_documents

        self.root = root
        # spark.range gives each of the N_BATCHES partitions one contiguous
        # index block: the partition id is the micro-batch
        (gen_documents(spark, self.n, n_partitions=self.N_BATCHES)
         .withColumn("batch", F.spark_partition_id())
         .write.partitionBy("batch").parquet(os.path.join(root, "docs")))
        gen_assets(spark, self.n).write.parquet(os.path.join(root, "assets"))
        self.prepare(spark)
        _expect(self.docs.count() == self.n, "materialized corpus lost rows")
        # the drift baseline: the same corpus profiled once, so every timed
        # call must report zero drifted metrics
        stats.write_stats_sidecar(stats.stats_profile(self.docs, ["n_spans"]),
                                  os.path.join(root, "baseline"), "baseline")

    def prepare(self, spark):
        from xema_spark import io

        self.spark = spark
        docs = os.path.join(self.root, "docs")
        self.docs = (io.load_table(spark, docs).drop("batch")
                     .withColumn("n_spans", F.size("spans")))
        self.assets = io.load_table(spark, os.path.join(self.root, "assets"))
        self.batches = [io.load_table(spark, os.path.join(docs, f"batch={b}"))
                        for b in self.order]
        self.expected = inputs.interleaved_closed_form(self.n)

    def _batch_op(self) -> Op:
        from xema_spark import runner
        from xema_spark.datagen import FLAGSHIP_RULE

        out = self.fresh_dir("batch")
        shutil.copytree(os.path.join(self.root, "baseline", "stats"),
                        os.path.join(out, "stats"))

        def run():
            return runner.run_validation(
                self.spark, self.docs, FLAGSHIP_RULE, out, assets=self.assets,
                n_buckets=self.N_BUCKETS, resume=False,
                profile_cols=["n_spans"], drift_baseline_run="baseline")

        def check(m):
            for k, v in self.expected.items():
                _expect(m.get(k) == v, f"{k}: got {m.get(k)}, expected {v}")
            _expect(m.get("drifted_metrics") == 0,
                    f"drifted_metrics: {m.get('drifted_metrics')}")
            n = runner.read_verdicts(self.spark, out).count()
            _expect(n == self.n, f"read_verdicts: {n} rows, expected {self.n}")
            self.stored += du(out)

        return Op("runner.run_validation", self.n, run, check, "rules.normalize")

    def _round(self, n_batches: int) -> Round:
        """The batch call, then the first `n_batches` micro-batches into a
        fresh stream store."""
        from xema_spark import runner, streaming
        from xema_spark.datagen import FLAGSHIP_RULE

        self.stored = 0
        out = self.fresh_dir("stream")
        ops = [self._batch_op()]
        for k, df in enumerate(self.batches[:n_batches]):
            def run(k=k, df=df):
                return streaming.commit_micro_batch(
                    df, k, FLAGSHIP_RULE, out, n_buckets=self.N_BUCKETS)

            def check(run_id, k=k):
                _expect(run_id is not None, f"micro-batch {k} reported as a replay")
            ops.append(Op("streaming.commit_micro_batch", self.batch_docs[k],
                          run, check, "streaming.replay_probe", index=k))

        def finish():
            lin = self.spark.read.parquet(os.path.join(out, "lineage"))
            runs = lin.select("run_id").distinct().count()
            _expect(runs == n_batches, f"lineage holds {runs} runs, expected {n_batches}")
            want = sum(self.batch_docs[:n_batches])
            got = runner.read_verdicts(self.spark, out).count()
            _expect(got == want, f"read_verdicts: {got} rows, expected {want}")
            self.stored += du(out)
        return Round(ops, finish, stored_bytes=lambda: self.stored)

    def warm_round(self):
        # one call of each path warms both; a whole stream would only add
        # repeats of the second
        return self._round(1)

    def rounds(self):
        while True:
            yield self._round(self.N_BATCHES)

    def hooks(self, m):
        batch, stream = "runner.run_validation", "streaming.commit_micro_batch"
        return [
            ([m.compiler, m.runner, m.streaming], "compile_rule", {
                batch: Hook(enter="compiler.compile_rule", exit="runner.write"),
                stream: Hook(enter="compiler.compile_rule", exit="runner.verdict_write")}),
            ([m.stats], "stats_profile", {batch: Hook(enter="stats.profile")}),
            ([m.runner], "commit_lineage", {stream: Hook(enter="runner.commit_lineage")}),
        ]


# ---------------------------------------------------------------------------

CURATE_RULE = {"type": "object",
               "properties": {"text": {"type": "string", "min_length": 50}},
               "required": ["text"]}
CURATE_COLS = ["doc_id", "lang", "q_alpha_ratio", "top_ngram_frac"]


def canon_rows(rows, ndigits: int = 6) -> list[tuple]:
    """Order- and float-noise-free form of a result for oracle comparison."""
    def c(v):
        return round(v, ndigits) if isinstance(v, float) else v
    return sorted((tuple(c(v) for v in r) for r in rows), key=repr)


class CurateText(Workload):
    """`pipeline.curate` with the pipeline_curate query's parameters: the
    text, dedup and pipeline layers do the work, the runner none."""
    name = "curate_text"
    N_DOCS = 600

    def setup(self, spark, root):
        from xema_spark import io

        os.makedirs(root)
        self.path = os.path.join(root, "curate.parquet")
        pq.write_table(pa.table(inputs.curate_corpus(self.seed, self.N_DOCS)),
                       self.path)
        _expect(io.load_table(spark, self.path).count() == self.N_DOCS,
                "materialized curate corpus lost rows")

    def verify_setup(self):
        """The DuckDB replica of the whole curate chain, cached by the bytes
        of the corpus and of the oracle SQL (it dominates a cold run)."""
        import duckdb
        import __spark_entry__ as entry

        sql = entry._pipeline_oracle_sql()
        with open(self.path, "rb") as f:
            key = hashlib.sha256(f.read() + sql.encode()).hexdigest()[:24]
        cache = os.path.join(self.cache, f"curate-{key}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                self.oracle = [tuple(r) for r in json.load(f)]
            return
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.path}')")
            rows = con.execute(f"SELECT {', '.join(CURATE_COLS)} FROM ({sql})").fetchall()
        finally:
            con.close()
        self.oracle = canon_rows(rows)
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        with open(cache + ".tmp", "w") as f:
            json.dump(self.oracle, f)
        os.replace(cache + ".tmp", cache)

    def prepare(self, spark):
        from xema_spark import io

        self.docs = io.load_table(spark, self.path)

    def rounds(self):
        from xema_spark import pipeline

        def run():
            d = self.docs
            # the pipeline_curate composition: its own near-duplicate
            # injection of the first ten documents
            near = d.filter(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zqx vbnm plka qwrt")).alias("text"))
            out = pipeline.curate(
                d.unionByName(near), rule=CURATE_RULE, langs=("en",),
                min_alpha_ratio=0.81, max_top_ngram_frac=0.15,
                max_dup_ngram_frac=0.5, exact_dedupe=True,
                near_dup_threshold=0.8, hash_fn="portable", max_shingles=4096)
            return out.select(*CURATE_COLS).collect()

        def check(rows):
            got = canon_rows(tuple(r) for r in rows)
            _expect(got == self.oracle,
                    f"curate kept {len(got)} rows, oracle {len(self.oracle)}; "
                    f"ids differ: {sorted(set(r[0] for r in got) ^ set(r[0] for r in self.oracle))[:10]}")

        while True:
            yield Round([Op("pipeline.curate", self.N_DOCS + 10, run, check,
                            "pipeline.gate")])

    def hooks(self, m):
        op = "pipeline.curate"
        return [
            ([m.compiler, m.runner, m.streaming], "compile_rule",
             {op: Hook(nest="compiler.compile_rule")}),
            ([m.dedup], "lsh_candidate_pairs", {op: Hook(enter="dedup.near_dup")}),
            ([m.dedup], "near_dup_losers", {op: Hook(exit="pipeline.output")}),
        ]


# ---------------------------------------------------------------------------

# The oracle-backed keyword, cast and violation-tree queries of
# __spark_entry__, pinned so the mix cannot drift as the registry grows.
KEYWORD_QUERIES = (
    "cast_reshape", "cast_pipeline", "v_custom_validator", "v_map_keywords",
    "v_ref_inline", "v_required_dependencies", "violations_explode",
    "v_strlen_pattern", "v_tuple_items", "v_multi_rule", "v_json_dynamic",
    "v_enum_lang", "v_range_nchars", "v_exclusive_range", "v_format_ipv4",
    "v_format_date", "v_array_items", "v_contains", "v_unique_items",
    "v_one_of", "v_if_then_else", "v_not_allof", "cast_union", "cast_decimal",
    "cast_delete", "cast_custom", "v_fail_mode_early",
)
EVENT_QUERIES = {"v_format_ipv4", "v_format_date", "v_json_dynamic",
                 "cast_pipeline", "cast_union", "cast_decimal", "cast_custom"}


def query_group(name: str) -> str:
    """The layer a query mostly exercises past the rule compiler."""
    if name.startswith("cast_"):
        return "cast"
    if name.startswith("v_format_"):
        return "formats"
    if name == "v_json_dynamic":
        return "interpreter"
    return "compiler"


def duck_canon(df):
    """The oracle-parity canon: sorted columns and rows, doubles to 6 places,
    everything compared as strings."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == float:
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True).astype(str)


class KeywordQueries(Workload):
    """27 distinct rules over small tables: rule compile, planning and
    per-action scheduling dominate; the only user of formats, interpreter
    and cast."""
    name = "keyword_queries"
    N_DOCS = 2_000
    N_EVENTS = 5_000
    N_PASSES = 2

    def setup(self, spark, root):
        self.dir = root
        os.makedirs(self.dir)
        pq.write_table(pa.table(inputs.flat_documents(self.seed, self.N_DOCS)),
                       os.path.join(self.dir, "documents.parquet"))
        pq.write_table(pa.table(inputs.events(self.seed, self.N_EVENTS)),
                       os.path.join(self.dir, "events.parquet"))
        for t, n in (("documents", self.N_DOCS), ("events", self.N_EVENTS)):
            got = spark.read.parquet(os.path.join(self.dir, f"{t}.parquet")).count()
            _expect(got == n, f"materialized {t} lost rows")

    def prepare(self, spark):
        import __spark_entry__ as entry

        self.spark = spark
        registry = entry.queries()
        missing = [q for q in KEYWORD_QUERIES if q not in registry]
        if missing:
            raise KeyError(f"queries missing from __spark_entry__: {missing}")
        self.fns = {q: registry[q] for q in KEYWORD_QUERIES}

    def _docs_for(self, q: str) -> int:
        return self.N_EVENTS if q in EVENT_QUERIES else self.N_DOCS

    def warm_round(self) -> Round:
        """Every query once, cold, collected and compared with its DuckDB
        oracle. One client thread: `validate_df` passes its fail mode to
        `compile_rule` through a module-level flag, so concurrent compiles
        of different rules corrupt each other."""
        import duckdb
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in ("documents", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.dir, t + '.parquet')}')")
        ops = []
        for q in self._order():
            def run(q=q):
                return self.fns[q](self.spark, self.dir).toPandas()

            def check(pdf, q=q):
                want = con.execute(oracles[q]).fetchdf()
                _expect(duck_canon(pdf).equals(duck_canon(want)),
                        f"{q}: result differs from its DuckDB oracle")
            ops.append(Op(f"query.{query_group(q)}", self._docs_for(q), run, check))
        return Round(ops, finish=con.close)

    def _order(self) -> list[str]:
        order = list(KEYWORD_QUERIES)
        self.rng.shuffle(order)
        return order

    def rounds(self):
        """A round is N_PASSES passes over the queries, each in its own order:
        one pass is too short a window on a shared host."""
        while True:
            ops = []
            for q in [q for _ in range(self.N_PASSES) for q in self._order()]:
                def run(q=q):
                    self.fns[q](self.spark, self.dir).write.format("noop") \
                        .mode("overwrite").save()
                ops.append(Op(f"query.{query_group(q)}", self._docs_for(q),
                              run, lambda _: None))
            yield Round(ops)

    def hooks(self, m):
        nest = Hook(nest="compiler.compile_rule")
        return [([m.compiler, m.runner, m.streaming], "compile_rule",
                 {f"query.{g}": nest for g in ("compiler", "formats", "interpreter", "cast")})]


# ---------------------------------------------------------------------------

class Composite(Workload):
    """Several workloads as one: set up side by side, and each round is one
    round of every part, back to back."""
    parts: tuple[type[Workload], ...] = ()

    def __init__(self, seed, work, cache):
        super().__init__(seed, work, cache)
        self.members = [p(seed, os.path.join(work, p.name), cache) for p in self.parts]

    def setup(self, spark, root):
        for m in self.members:
            m.setup(spark, os.path.join(root, m.name))

    def prepare(self, spark):
        for m in self.members:
            m.prepare(spark)

    def verify_setup(self):
        for m in self.members:
            m.verify_setup()

    def warm_round(self):
        return Round.join([m.warm_round() for m in self.members])

    def rounds(self):
        for rs in zip(*(m.rounds() for m in self.members)):
            yield Round.join(list(rs))

    def hooks(self, m):
        merged: dict[str, tuple[list, dict[str, Hook]]] = {}
        for part in self.members:
            for modules, attr, hooks in part.hooks(m):
                merged.setdefault(attr, (modules, {}))[1].update(hooks)
        return [(modules, attr, hooks) for attr, (modules, hooks) in merged.items()]


class CurateAndQueries(Composite):
    name = "curate_and_queries"
    why = ("a pipeline.curate call, then two passes over 27 distinct rules on "
           "small tables: text, dedup, pipeline; rule compile, planning, "
           "formats, interpreter, cast")
    parts = (CurateText, KeywordQueries)


WORKLOADS = {w.name: w for w in (ValidateAndStream, CurateAndQueries)}
