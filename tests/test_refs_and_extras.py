"""Remote-$ref registry inlining, grapheme-exact lengths, multi-rule fused
validation, and extra draft7 edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.helpers import check_cases
from xema_spark.compiler import validate_df, validate_many
from xema_spark.rules import RuleError, inline_remote_refs, normalize_rule


class TestRemoteRefs:
    REGISTRY = {
        "http://example.com/int": {"type": "integer", "minimum": 0},
        "http://example.com/nested": {
            "definitions": {"name": {"type": "string", "minLength": 2}},
            "properties": {"name": {"$ref": "#/definitions/name"}},
        },
    }

    def test_remote_ref_inlined(self, spark):
        rule = {"type": "object",
                "properties": {"n": {"$ref": "http://example.com/int"}}}
        df = spark.createDataFrame([(5,), (-1,), (None,)], "n: long")
        out = validate_df(df, rule, registry={
            k: normalize_rule(v) for k, v in self.REGISTRY.items()})
        got = {r["n"]: r["valid"] for r in out.collect()}
        assert got[5] is True and got[-1] is False and got[None] is True

    def test_remote_ref_with_internal_local_refs(self, spark):
        # the remote doc's own '#/definitions/...' must resolve against the
        # REMOTE root after inlining (behaviour.ex:160-223 semantics)
        rule = {"$ref": "http://example.com/nested"}
        df = spark.createDataFrame([("ab",), ("x",)], "name: string")
        out = validate_df(df, rule, registry={
            k: normalize_rule(v) for k, v in self.REGISTRY.items()})
        got = {r["name"]: r["valid"] for r in out.collect()}
        assert got["ab"] is True and got["x"] is False

    def test_missing_uri_raises(self):
        with pytest.raises(RuleError, match="registry"):
            inline_remote_refs(normalize_rule({"$ref": "http://nope/x"}), {})

    def test_circular_remote_raises(self):
        reg = {"http://a": normalize_rule({"$ref": "http://b"}),
               "http://b": normalize_rule({"$ref": "http://a"})}
        with pytest.raises(RuleError, match="circular"):
            inline_remote_refs(normalize_rule({"$ref": "http://a"}), reg)


class TestGraphemes:
    def test_exact_grapheme_length(self, spark):
        # é as e + combining acute = 2 codepoints, 1 grapheme; family emoji
        # with ZWJs = many codepoints, 1 grapheme
        combining = "é"
        family = "\U0001F468‍\U0001F469‍\U0001F466"
        df = spark.createDataFrame([(combining,), (family,), ("ab",)], "s: string")
        rule = {"type": "object", "properties": {"s": {"maxLength": 1}}}
        default = {r["s"]: r["valid"] for r in validate_df(df, rule).collect()}
        exact = {r["s"]: r["valid"]
                 for r in validate_df(df, rule, exact_graphemes=True).collect()}
        assert default[combining] is False      # 2 codepoints
        assert exact[combining] is True         # 1 grapheme (reference semantics)
        assert exact[family] is True
        assert exact["ab"] is False


class TestValidateMany:
    def test_fused_multi_rule(self, spark):
        df = spark.createDataFrame([(5, "abc"), (-1, "x")], "n: long, s: string")
        out = validate_many(df, {
            "pos": {"properties": {"n": {"minimum": 0}}},
            "named": {"properties": {"s": {"minLength": 2}}},
        })
        rows = {r["n"]: r for r in out.collect()}
        assert rows[5]["valid_pos"] and rows[5]["valid_named"]
        assert not rows[-1]["valid_pos"] and not rows[-1]["valid_named"]
        assert rows[-1]["violations_pos"][0]["keyword"] == "minimum"

    def test_fail_mode_spellings_match_validate_df(self, spark):
        """All five fail-mode spellings mean on validate_many what they mean
        on validate_df; an unknown one raises."""
        df = spark.createDataFrame([("no",)], "t: string")
        rule = {"type": "object", "properties": {
            "t": {"type": "string", "minLength": 5, "pattern": "^yes"}}}
        modes = ("immediately", "verdict", "finally", "violations", "early")
        out = df
        for m in modes:  # chained: one job evaluates all five
            out = validate_many(out, {m: rule}, mode=m)
        row = out.collect()[0]
        assert all(row[f"valid_{m}"] is False for m in modes)
        assert "violations_immediately" not in out.columns
        assert "violations_verdict" not in out.columns
        full = ["min_length", "pattern"]
        assert [v["keyword"] for v in row["violations_finally"]] == full
        assert [v["keyword"] for v in row["violations_violations"]] == full
        assert [v["keyword"] for v in row["violations_early"]] == ["min_length"]
        with pytest.raises(ValueError, match="unknown fail mode"):
            validate_many(df, {"r": rule}, mode="eager")
        with pytest.raises(ValueError, match="unknown fail mode"):
            validate_df(df, rule, mode="eager")


class TestDraft7EdgeCases:
    def test_const_null_and_bool(self, spark):
        check_cases(spark, {"const": None}, [("x", False)], skip_interp=True)
        check_cases(spark, {"const": True}, [(True, True), (False, False), (1, False)])

    def test_enum_bool_not_int(self, spark):
        check_cases(spark, {"enum": [True]}, [(True, True), (1, False)])

    def test_nested_combiners(self, spark):
        rule = {"allOf": [{"anyOf": [{"minimum": 0}, {"maximum": -10}]},
                          {"not": {"const": 3}}]}
        check_cases(spark, rule, [
            (5, True), (3, False), (-20, True), (-5, False),
        ])

    def test_contains_empty_array(self, spark):
        check_cases(spark, {"contains": {"type": "integer"}}, [
            ([], False), ([1], True),
        ])

    def test_additional_items_true_ignored(self, spark):
        check_cases(spark, {"items": [{"type": "integer"}], "additionalItems": True}, [
            ([1, 2, 3], True),
        ])

    def test_required_on_map_with_nulls(self, spark):
        # map key present with null value: present for required (map-key
        # semantics), but the subschema skips (null == absent value)
        rule = {"required": ["k"], "properties": {"k": {"minimum": 0}}}
        check_cases(spark, rule, [
            ({"k": 1}, True), ({"j": 1}, False),
        ], as_map=True)

    def test_pattern_unanchored_search(self, spark):
        check_cases(spark, {"pattern": "b.t"}, [
            ("rabbit bat", True), ("bit", True), ("ba", False),
        ])

    def test_keywords_ignore_inapplicable_types(self, spark):
        # draft7: every keyword applies only to its type class; other types pass
        check_cases(spark, {"minLength": 3}, [(5, True), ([1, 2], True)])
        check_cases(spark, {"maxItems": 1}, [("abc", True), (9, True)])
        check_cases(spark, {"minimum": 10}, [("abc", True), ([1], True)])
        check_cases(spark, {"required": ["x"]}, [(5, True), ("s", True)])
        check_cases(spark, {"properties": {"x": {"minimum": 0}}}, [(5, True)])
        check_cases(spark, {"multipleOf": 2}, [("ab", True), ([2], True)])

    def test_int_column_float_multiple_of(self, spark):
        check_cases(spark, {"multipleOf": 1.5}, [(3, True), (4, False), (0, True)])

    def test_combined_type_and_applicability(self, spark):
        rule = {"type": ["string", "integer"], "minLength": 2, "minimum": 10}
        check_cases(spark, rule, [
            ("ab", True), ("a", False), (11, True), (9, False), (1.5, False),
        ])

    def test_min_length_unicode_codepoints(self, spark):
        # default mode counts codepoints: 'ñ' precomposed is 1
        check_cases(spark, {"minLength": 2}, [("ñx", True), ("ñ", False)])


def test_module_struct_check(spark):
    """`module` keyword (#36, validator.ex:143,258): registered struct shape
    asserted at compile time; mismatch -> constant per-rule failure row."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from xema_spark.compiler import register_module, validate_df

    register_module("Point", T.StructType([
        T.StructField("x", T.LongType()), T.StructField("y", T.LongType())]))
    df = spark.createDataFrame([(1, 2)], ["x", "y"]).select(
        F.struct("x", "y").alias("p"))
    ok = validate_df(df, {"type": "object",
                          "properties": {"p": {"module": "Point"}}})
    assert ok.collect()[0]["valid"] is True

    bad = spark.createDataFrame([("a", 2)], ["x", "y"]).select(
        F.struct("x", "y").alias("p"))
    res = validate_df(bad, {"type": "object",
                            "properties": {"p": {"module": "Point"}}}).collect()[0]
    assert res["valid"] is False
    assert res["violations"][0]["keyword"] == "module"

    # unregistered module names are annotation-only
    assert validate_df(df, {"type": "object",
                            "properties": {"p": {"module": "Unknown"}}}) \
        .collect()[0]["valid"] is True


def test_validate_schema_document_meta():
    """Dogfooded meta-schema validation (json_schema/validator.ex parity):
    the engine's interpreter checks schema documents against the bundled
    official draft meta-schemas, including draft-4's keyword dependencies."""
    from xema_spark.rules import RuleError, validate_schema_document

    assert validate_schema_document({"type": "integer", "minimum": 0})
    assert validate_schema_document({"items": [{"type": "string"}], "additionalItems": False})
    assert not validate_schema_document({"type": 123})
    assert not validate_schema_document({"minLength": -1})
    assert not validate_schema_document({"properties": {"a": {"type": 5}}})
    # draft-4: boolean exclusiveMinimum requires minimum
    assert validate_schema_document({"exclusiveMinimum": True, "minimum": 1}, draft="draft4")
    assert not validate_schema_document({"exclusiveMinimum": True}, draft="draft4")
    # draft-6/7 numeric form needs no companion
    assert validate_schema_document({"exclusiveMinimum": 3}, draft="draft7")
    import pytest
    with pytest.raises(RuleError):
        validate_schema_document({}, draft="draft3")
