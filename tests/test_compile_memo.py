"""The rule compiler's memo: what it caches, what it keys on, and that
compiling stays correct when threads compile with different options.

Every test evaluates its compiled columns in at most one Spark job."""

from __future__ import annotations

import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xema_spark import compiler
from xema_spark.compiler import CompileOptions, compile_rule
from xema_spark.rules import normalize_rule, register_validator

# two failing with-chain steps on `t` ("no"): early keeps min_length only
STEPS_RULE = normalize_rule({"type": "object", "properties": {
    "t": {"type": "string", "minLength": 5, "pattern": "^yes"}}})


@pytest.fixture
def one_row(spark):
    return spark.createDataFrame([("no", 1)], "t: string, v: long")


def _keywords(viols) -> list[str]:
    return [v["keyword"] for v in viols]


def test_threads_with_different_options_get_their_own_columns(one_row):
    """Twelve threads (more than the cores) compile the same rule at once,
    alternating early on and off, half through the memo (empty, so they
    race on the miss) and half through the uncached Column path. Each gets
    the columns of its own options, and the memo hands every thread with
    the same options one shared result."""
    compiler._memo.clear()
    n = 12
    barrier = threading.Barrier(n)
    results: dict[int, compiler.Compiled] = {}

    def work(i: int) -> None:
        barrier.wait(timeout=60)
        col = None if i < n // 2 else F.struct(F.col("t"), F.col("v"))
        results[i] = compile_rule(STEPS_RULE, col, one_row.schema,
                                  opts=CompileOptions(early=i % 2 == 0))

    threads = [threading.Thread(target=work, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and len(results) == n
    memo = [results[i] for i in range(n // 2)]
    assert len({id(c) for c in memo[0::2]}) == 1 and len({id(c) for c in memo[1::2]}) == 1
    row = one_row.select(*[results[i].violations.alias(f"c{i}") for i in range(n)]).collect()[0]
    for i in range(n):
        want = ["min_length"] if i % 2 == 0 else ["min_length", "pattern"]
        assert _keywords(row[f"c{i}"]) == want, i


def test_repeat_call_is_identical_and_makes_no_py4j_calls(spark, one_row, monkeypatch):
    t_rule = STEPS_RULE["properties"]["t"]
    first = compile_rule(STEPS_RULE, None, one_row.schema)
    named = compile_rule(t_rule, "t", T.StringType())
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command

    def counting(*args, **kwargs):
        calls.append(args)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    again = compile_rule(STEPS_RULE, None, one_row.schema)
    named_again = compile_rule(t_rule, "t", T.StringType())
    monkeypatch.undo()
    assert again is first and named_again is named
    assert len(calls) <= 3
    # the counter does see a compile: the same rule on a Column input
    monkeypatch.setattr(client, "send_command", counting)
    compile_rule(t_rule, F.col("t"), T.StringType())
    monkeypatch.undo()
    assert len(calls) > 10


def test_key_is_type_faithful(one_row):
    """True, 1 and 1.0 must not share an entry (True == 1 == 1.0 in Python),
    nor may a list and a tuple."""
    dt = T.LongType()
    by_true = compile_rule({"const": True}, "v", dt)
    by_one = compile_rule({"const": 1}, "v", dt)
    by_float = compile_rule({"const": 1.0}, "v", dt)
    assert len({id(by_true), id(by_one), id(by_float)}) == 3
    row = one_row.select(by_true.valid.alias("t"), by_one.valid.alias("o"),
                         by_float.violations.alias("f")).collect()[0]
    assert row["t"] is False and row["o"] is True and row["f"] == []
    assert compiler._freeze([1, 2], []) != compiler._freeze((1, 2), [])
    assert compiler._freeze(-0.0, []) != compiler._freeze(0.0, [])


def test_reregistering_changes_behaviour_and_keeps_other_entries(spark):
    df = spark.createDataFrame([(5, (1,))], "v: long, m: struct<a: long>")
    unrelated = compile_rule({"properties": {"v": {"minimum": 0}}}, None, df.schema)
    v_rule = {"properties": {"v": {"validator": "memo_sign"}}}
    m_rule = {"properties": {"m": {"module": "MemoShape"}}}

    register_validator("memo_sign", lambda s: s > 0)
    compiler.register_module("MemoShape", T.StructType([T.StructField("a", T.LongType())]))
    v_old, m_old = compile_rule(v_rule, None, df.schema), compile_rule(m_rule, None, df.schema)
    register_validator("memo_sign", lambda s: s < 0)
    compiler.register_module("MemoShape", T.StructType([T.StructField("b", T.LongType())]))
    v_new, m_new = compile_rule(v_rule, None, df.schema), compile_rule(m_rule, None, df.schema)

    assert v_new is not v_old and m_new is not m_old
    assert compile_rule({"properties": {"v": {"minimum": 0}}}, None, df.schema) is unrelated
    row = df.select(v_old.valid.alias("v_old"), v_new.valid.alias("v_new"),
                    m_old.valid.alias("m_old"), m_new.valid.alias("m_new")).collect()[0]
    assert (row["v_old"], row["v_new"]) == (True, False)
    assert (row["m_old"], row["m_new"]) == (True, False)


def test_explicit_columns_are_never_memoized(one_row):
    rule = {"minimum": 0}
    named = compile_rule(rule, "v", T.LongType())
    size = len(compiler._memo)
    a = compile_rule(rule, F.col("v"), T.LongType())
    b = compile_rule(rule, F.col("v"), T.LongType())
    assert len({id(named), id(a), id(b)}) == 3
    assert len(compiler._memo) == size


def test_memo_is_bounded():
    for n in range(compiler._MEMO_SIZE + 5):
        compile_rule({"maximum": n}, "v", T.LongType())
    assert len(compiler._memo) == compiler._MEMO_SIZE


def test_custom_validator_query_hits_the_memo(spark, sf_dir):
    """The `v_custom_validator` query registers one module-level validator,
    so a repeat call reuses its compiled rule instead of adding an entry."""
    import __spark_entry__ as entry

    query = entry.queries()["v_custom_validator"]
    query(spark, sf_dir)
    size = len(compiler._memo)
    query(spark, sf_dir)
    assert len(compiler._memo) == size
