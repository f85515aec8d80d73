"""Tests for the benchmark's own machinery: span bookkeeping, the event-log
fold, and the agreement between BENCHMARK.json and what run.py prints.

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

import run
from spans import Hook, Patches, Tracer, fold, read_event_log, split_by_writes

MANIFEST = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def _children(spans, sid):
    return [s for s in spans if s.parent == sid]


def test_self_times_sum_to_parent_wall():
    groups = []
    tr = Tracer(groups.append, clock=FakeClock())
    for k in range(2):
        with tr.span("op", op_index=k):
            tr.switch("phase.a")
            with tr.span("nested"):
                pass
            tr.switch("phase.b")
            tr.switch(None)
            with tr.span("tail"):
                pass
    stats = fold(tr.spans, {})
    for s in tr.spans:
        kids = _children(tr.spans, s.id)
        assert stats[s.id].self_s + sum(stats[c.id].wall_s for c in kids) == pytest.approx(
            stats[s.id].wall_s)
    for op in (s for s in tr.spans if s.parent is None):
        below = [op.id]
        for s in tr.spans:
            if s.parent in below:
                below.append(s.id)
        assert sum(stats[i].self_s for i in below) == pytest.approx(stats[op.id].wall_s)
    # the job group follows the innermost open span and is cleared at the end
    assert groups[-1] is None
    assert all(g.startswith("perfbench:") for g in groups[:-1] if g)


def test_hooks_shape_phases_and_skip_recursion():
    import types

    calls = []
    mod = types.SimpleNamespace()

    def work(depth=0):
        calls.append(depth)
        if depth < 2:
            mod.work(depth + 1)  # recursion through the module binding
        return depth

    mod.work = work
    tr = Tracer(clock=FakeClock())
    patches = Patches()
    patches.wrap(tr, [mod], "work", {"op": Hook(enter="a", exit="b")})
    try:
        with tr.span("op"):
            tr.switch("first")
            mod.work()
        with tr.span("other"):   # no hook for this operation: untouched
            mod.work()
    finally:
        patches.restore()
    assert mod.work is work and calls == [0, 1, 2, 0, 1, 2]
    names = [s.name for s in tr.spans]
    assert names == ["op", "first", "a", "b", "other"]
    assert all(s.parent == 0 for s in tr.spans[1:4])


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    """A tiny event-logged session: spans around two jobs and a write pair
    that `split_by_writes` must cut into three phases."""
    work = tmp_path_factory.mktemp("perfbench")
    log_dir = work / "eventlog"
    os.environ.setdefault("XEMA_SPARK_DRIVER_MEM", "1g")
    spark = run.start_session(event_log=str(log_dir))
    sc = spark.sparkContext
    tr = Tracer(lambda g: sc.setJobGroup(g, g) if g else sc.setLocalProperty(
        "spark.jobGroup.id", None))
    try:
        with tr.span("op", op_index=0):
            tr.switch("first")
            spark.range(100).count()
            with tr.span("nested"):
                spark.range(10).collect()
            tr.switch("runner.write")
            spark.range(50).write.parquet(str(work / "out" / "verdicts"))
            spark.read.parquet(str(work / "out" / "verdicts")).count()
            spark.range(5).write.parquet(str(work / "out" / "violations"))
        spark.range(7).count()  # outside every span: attributed to none
    finally:
        spark.stop()
    (log,) = list(log_dir.iterdir())
    yield tr, read_event_log(str(log))
    run.shutdown_jvm()


def test_event_log_jobs_are_attributed_to_spans(traced_spark):
    tr, (jobs, sqls) = traced_spark
    by_name = {s.name: s.id for s in tr.spans}
    stats = fold(tr.spans, jobs)
    assert stats[by_name["first"]].jobs >= 1
    assert stats[by_name["nested"]].jobs >= 1
    assert stats[by_name["op"]].jobs == 0
    grouped = [j for j in jobs.values() if j.group]
    assert sum(st.jobs for st in stats.values()) == len(grouped) < len(jobs)
    assert stats[by_name["runner.write"]].io_bytes > 0
    assert all(0.0 <= st.sched_wait_s <= st.wall_s + 1e-9 for st in stats.values())


def test_writes_split_a_span_into_scan_commit_violations(traced_spark):
    tr, (jobs, sqls) = traced_spark
    spans = split_by_writes(tr.spans, "runner.write", sqls,
                            (("runner.scan", "verdicts"), "runner.commit",
                             ("runner.violations", "violations")))
    names = [s.name for s in spans]
    assert "runner.write" not in names
    parts = [s for s in spans if s.name in ("runner.scan", "runner.commit", "runner.violations")]
    assert [s.name for s in parts] == ["runner.scan", "runner.commit", "runner.violations"]
    assert parts[0].end == parts[1].start and parts[1].end == parts[2].start
    stats = fold(spans, jobs)
    assert all(stats[s.id].jobs >= 1 for s in parts)
    src = next(s for s in tr.spans if s.name == "runner.write")
    assert sum(stats[s.id].wall_s for s in parts) == pytest.approx(src.end - src.start)


def test_manifest_names_and_units_are_what_run_prints():
    with open(MANIFEST) as f:
        manifest = json.load(f)
    assert {m["name"]: m["unit"] for m in manifest["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in manifest["per_layer"]} == run.per_layer_units()
    from workloads import WORKLOADS
    assert [w["name"] for w in manifest["workloads"]] == list(WORKLOADS)

    # every per-layer name comes out of the fold, even for spans a workload
    # never opens
    tr = Tracer(clock=FakeClock())
    with tr.span("op", op_index=0):
        tr.switch("runner.write")
    layers, _ = run.layer_metrics(tr, {}, {})
    layers.update({k: 1.0 for k in run.EXTRA_LAYER})
    line = run.result_line(layers, run.per_layer_units(), [{"ok": True}])
    assert {k: v["unit"] for k, v in line["metrics"].items()} == run.per_layer_units()
    e2e = {"setup_s": 1.0, **run.summarize([{"ok": True, "latency_s": 2.0, "cpu_s": 3.0,
                                             "docs": 4}])}
    line = run.result_line(e2e, run.E2E, [{"ok": True}])
    assert set(line["metrics"]) == set(run.E2E) and line["correct"]


def test_layer_means_are_per_operation_that_opens_the_span():
    tr = Tracer(clock=FakeClock())
    with tr.span("runner.run_validation", op_index=0):  # t = 1 .. 4
        tr.switch("stats.profile")                     # t = 2 .. 3
    with tr.span("streaming.commit_micro_batch", op_index=1):  # t = 5 .. 6
        pass
    layers, _ = run.layer_metrics(tr, {}, {})
    assert layers["stats.profile.wall_s"] == pytest.approx(1.0)
    assert layers["op.wall_s"] == pytest.approx(2.0)
    assert layers["runner.scan.wall_s"] == 0.0


def test_composite_joins_rounds_and_merges_hooks():
    from workloads import Composite, Op, Round, Workload

    checked = []

    def part(tag, n_ops):
        class Part(Workload):
            name = tag

            def rounds(self):
                while True:
                    yield Round([Op(f"{tag}.op", 1, lambda: None, lambda _: None)] * n_ops,
                                finish=lambda: checked.append(tag), stored_bytes=lambda: n_ops)

            def hooks(self, m):
                return [([m], "f", {f"{tag}.op": Hook(nest="x")})]
        return Part

    class Both(Composite):
        parts = (part("a", 2), part("b", 3))

    w = Both(1, "work", "cache")
    rnd = next(w.rounds())
    assert [op.span for op in rnd.ops] == ["a.op"] * 2 + ["b.op"] * 3
    rnd.finish()
    assert checked == ["a", "b"] and rnd.stored_bytes() == 5
    ((mods, attr, hooks),) = w.hooks("mod")
    assert (mods, attr, set(hooks)) == (["mod"], "f", {"a.op", "b.op"})


def test_closed_form_counts_match_the_generator():
    import inputs

    got = inputs.interleaved_closed_form(2021)
    # by hand: 2020 // 101 repeated ids; classes 0-3 on every 13th doc fail
    assert got["duplicate_doc_ids"] == 20
    i13 = range(0, 2021, 13)
    assert got["n_valid"] == 2021 - sum(1 for i in i13 if (i // 13) % 6 < 4)
    assert inputs.curate_corpus(3, 50) == inputs.curate_corpus(3, 50)
    assert inputs.curate_corpus(3, 50) != inputs.curate_corpus(4, 50)
