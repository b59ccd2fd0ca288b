"""Fold-semantics parity tests against a pure-Python reference fold.

The invariants from SURVEY.md §2.1: left fold seeded by the first
operand; missing/non-numeric fields → 0.0; case-insensitive keys;
constant truncation; cast_to_int truncation toward zero; IEEE ±inf/NaN
division in ieee mode; malformed/NULL records coerce like the C.

A spec list compiles into one projection over one parse of each JSON
column (math.c:322 unpacks each record once); the chain semantics the
parse-once projection keeps — overwrites, chained reads, duplicate
keys, passthrough, output columns — are pinned in TestChainSemantics.
"""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from fluent_bit_filter_math_spark.compile import apply_spec
from fluent_bit_filter_math_spark.pipeline import (
    apply_specs,
    apply_specs_passthrough,
    read_events_stream,
    route_by_tag,
)
from fluent_bit_filter_math_spark.spec import MathSpec


@pytest.fixture(scope="module")
def records(spark):
    rows = [
        Row(id=1, a=10.0, b=4.0, s="notnum", props='{"K": 2, "x": "str"}'),
        Row(id=2, a=-3.5, b=0.0, s="7.5", props='{"k": -1}'),
        Row(id=3, a=0.0, b=0.0, s=None, props=None),
        Row(id=4, a=None, b=2.0, s="2", props='{"k": 1.5}'),
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def payloads(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "x", '{"K": 1, "k": 2, "b": 5}'),
            (2, -3.5, "y", '{"k": -1}'),
            (3, 0.0, "x", None),
            (4, None, "y", '{"k": 12'),  # malformed
            (5, 1.0, "x", "[1, 2]"),  # an array, not a map
            (6, 2.0, "x", "7"),  # a scalar, not a map
        ],
        "id long, a double, tag string, props string",
    )


def _col(df, name):
    return [r[name] for r in df.orderBy("id").collect()]


def _parses(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("from_json(")


TEST_SH = [  # the reference smoke test's four filter instances
    MathSpec.build("sum", ["a", "k"], "p1", cast_to_int=True),
    MathSpec.build("sub", ["a", "k"], "p2"),
    MathSpec.build("mul", ["a", "k"], "p3"),
    MathSpec.build("div", ["a", "k"], "p4"),
]


class TestFolds:
    def test_sum_left_fold(self, records):
        out = apply_spec(records, MathSpec.build("sum", ["a", "b", 2], "o"))
        assert _col(out, "o") == [16.0, -1.5, 2.0, 4.0]

    def test_sub_left_assoc(self, records):
        out = apply_spec(records, MathSpec.build("sub", ["a", "b", 1], "o"))
        # a - b - 1, with NULL a → 0
        assert _col(out, "o") == [5.0, -4.5, -1.0, -3.0]

    def test_mul(self, records):
        out = apply_spec(records, MathSpec.build("mul", ["a", "b"], "o"))
        assert _col(out, "o") == [40.0, -0.0, 0.0, 0.0]

    def test_div_null_mode(self, records):
        out = apply_spec(records, MathSpec.build("div", ["a", "b"], "o"))
        assert _col(out, "o") == [2.5, None, None, 0.0]

    def test_div_ieee_mode(self, records):
        out = apply_spec(
            records, MathSpec.build("div", ["a", "b"], "o", div_mode="ieee")
        )
        vals = _col(out, "o")
        assert vals[0] == 2.5
        assert vals[1] == -math.inf  # -3.5 / 0 → -inf (math.c:212-215)
        assert math.isnan(vals[2])  # 0 / 0 → NaN
        assert vals[3] == 0.0  # NULL→0, 0/2

    def test_string_numeric_coerces(self, records):
        # s='7.5' coerces to 7.5; s='notnum'/NULL → 0 (math.c:151-164)
        out = apply_spec(records, MathSpec.build("sum", ["a", "s"], "o"))
        assert _col(out, "o") == [10.0, 4.0, 0.0, 2.0]

    def test_json_props_field(self, records):
        # K matched case-insensitively through the props map; non-numeric
        # x → 0; NULL props → 0
        out = apply_spec(records, MathSpec.build("sum", ["a", "k"], "o"))
        assert _col(out, "o") == [12.0, -4.5, 0.0, 1.5]
        out2 = apply_spec(records, MathSpec.build("sum", ["a", "x"], "o"))
        assert _col(out2, "o") == [10.0, -3.5, 0.0, 0.0]

    def test_missing_field_is_zero(self, records):
        out = apply_spec(records, MathSpec.build("sum", ["a", "nope"], "o"))
        assert _col(out, "o") == [10.0, -3.5, 0.0, 0.0]

    def test_case_insensitive_column(self, records):
        out = apply_spec(records, MathSpec.build("sum", ["A", "B"], "o"))
        assert _col(out, "o") == [14.0, -3.5, 0.0, 2.0]

    def test_cast_to_int_truncates_toward_zero(self, records):
        out = apply_spec(
            records, MathSpec.build("div", ["a", "b"], "o", cast_to_int=True)
        )
        # 10/4 = 2.5 → 2; -3.5/0 NULL → NULL; 0/0 NULL; 0/2 → 0
        assert _col(out, "o") == [2, None, None, 0]

    def test_overwrite_semantics(self, records):
        # Divergence from the reference's duplicate-key quirk (math.c:245-262)
        out = apply_spec(records, MathSpec.build("sum", ["a", "b"], "a"))
        assert _col(out, "a") == [14.0, -3.5, 0.0, 2.0]
        assert out.columns.count("a") == 1

    def test_chained_specs(self, records):
        out = apply_specs(
            records,
            [
                MathSpec.build("mul", ["a", 2], "t"),
                MathSpec.build("sum", ["t", "b"], "o"),
            ],
        )
        assert _col(out, "o") == [24.0, -7.0, 0.0, 2.0]

    def test_constant_seed_first(self, records):
        # Constant can seed the fold: 100 - a
        out = apply_spec(records, MathSpec.build("sub", [100, "a"], "o"))
        assert _col(out, "o") == [90.0, 103.5, 100.0, 100.0]


class TestPlanShape:
    def test_no_shuffle_no_udf(self, records):
        out = apply_specs(
            records,
            [
                MathSpec.build("sum", ["a", "b"], "x"),
                MathSpec.build("mul", ["x", 2], "y"),
            ],
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan  # narrow, element-wise
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestChainSemantics:
    def test_duplicate_lowered_key_takes_first_match(self, payloads):
        # {"K": 1, "k": 2} lowers to two "k" entries; the first wins.
        out = apply_spec(payloads, MathSpec.build("sum", ["k", 1], "o"))
        assert _col(out, "o") == [2.0, 0.0, 1.0, 1.0, 1.0, 1.0]

    def test_overwritten_column_is_read_by_later_specs(self, payloads):
        out = apply_specs(
            payloads,
            [
                MathSpec.build("sum", ["a", 1], "t"),
                MathSpec.build("mul", ["t", 2], "a"),
                MathSpec.build("sum", ["a", "t", "b"], "o"),
            ],
        )
        assert out.columns == ["id", "a", "tag", "props", "t", "o"]
        assert _col(out, "a") == [22.0, -5.0, 2.0, 2.0, 4.0, 6.0]
        assert _col(out, "o") == [38.0, -7.5, 3.0, 3.0, 6.0, 9.0]

    def test_overwritten_json_column_is_parsed_from_its_new_value(
        self, payloads
    ):
        specs = [
            MathSpec.build("sum", ["b", 1], "props"),
            MathSpec.build("sum", ["k", "b", 1], "o"),
        ]
        out = apply_specs(payloads, specs)
        assert out.columns == ["id", "a", "tag", "props", "o"]
        assert _col(out, "props") == [6.0, 1.0, 1.0, 1.0, 1.0, 1.0]
        # A number is not a JSON object: every later key reads 0.
        assert _col(out, "o") == [1.0] * 6
        out = apply_specs_passthrough(payloads, specs)
        assert _col(out, "props") == [6.0, 1.0, 1.0, None, None, None]
        # The guard of the second spec reads the rewritten column: only
        # a NULL there counts as well-formed.
        assert _col(out, "o") == [None, None, None, 1.0, 1.0, 1.0]

    def test_column_wins_over_json_key(self, payloads):
        out = apply_spec(
            payloads.withColumn("K", F.lit(100.0)),
            MathSpec.build("sum", ["k", 1], "o"),
        )
        assert _col(out, "o") == [101.0] * 6

    def test_passthrough_nulls_outputs_of_non_map_payloads(self, payloads):
        out = apply_specs_passthrough(
            payloads,
            [
                MathSpec.build("sum", ["a", "k", 5], "o"),
                MathSpec.build("mul", ["o", "b"], "p", cast_to_int=True),
            ],
        )
        assert out.columns == payloads.columns + ["o", "p"]
        # malformed (4), array (5), scalar (6): NULL; NULL props (3): 0.
        assert _col(out, "o") == [16.0, 0.5, 5.0, None, None, None]
        assert _col(out, "p") == [80, 0, 0, None, None, None]
        untouched = out.select(*payloads.columns).orderBy("id").collect()
        assert untouched == payloads.orderBy("id").collect()

    def test_output_columns_match_chained_with_column(self, payloads):
        # The slot of a name's first write, the spelling of its last.
        out = apply_specs(
            payloads,
            [
                MathSpec.build("sum", ["a", 1], "o"),
                MathSpec.build("sum", ["a", 2], "x"),
                MathSpec.build("sum", ["o", 1], "O"),
                MathSpec.build("sum", ["a", 1], "A"),
            ],
        )
        assert out.columns == ["id", "A", "tag", "props", "O", "x"]
        assert _col(out, "O") == [12.0, -1.5, 2.0, 2.0, 3.0, 4.0]
        routed = route_by_tag(payloads, {"x": TEST_SH}, tag_col="tag")
        assert routed["x"].columns == payloads.columns + ["p1", "p2", "p3", "p4"]

    def test_hidden_parse_column_neither_leaks_nor_clobbers(self, payloads):
        taken = payloads.withColumn("__fbm_json_0", F.lit("keep"))
        for out, p2 in (
            (apply_specs(taken, TEST_SH), [9.0, -2.5, 0.0, 0.0, 1.0, 2.0]),
            (
                apply_specs_passthrough(taken, TEST_SH),
                [9.0, -2.5, 0.0, None, None, None],
            ),
        ):
            assert out.columns == taken.columns + ["p1", "p2", "p3", "p4"]
            assert _col(out, "__fbm_json_0") == ["keep"] * 6
            assert _col(out, "p2") == p2

    def test_one_parse_per_json_column(self, spark, payloads, tmp_path):
        assert _parses(apply_specs(payloads, TEST_SH)) == 1
        assert _parses(apply_specs_passthrough(payloads, TEST_SH)) == 1
        routed = route_by_tag(payloads, {"x": TEST_SH, "y": TEST_SH}, "tag")
        assert [_parses(df) for df in routed.values()] == [1, 1]
        two = spark.createDataFrame(
            [(1, '{"K": 1}', '{"z": 3}'), (2, None, '{"Z": 4, "k": 7}')],
            "id long, props string, meta string",
        )
        out = apply_specs(
            two, [MathSpec.build("sum", ["k", "z", "w"], "o")], ("props", "meta")
        )
        assert _parses(out) == 2
        assert _col(out, "o") == [4.0, 11.0]
        # No JSON operand, no parse.
        no_json = [MathSpec.build("sum", ["a", 1], "o")]
        assert _parses(apply_specs(payloads, no_json)) == 0

        src = str(tmp_path / "src")
        payloads.write.parquet(src)
        stream = apply_specs(read_events_stream(spark, src), TEST_SH)
        query = (
            stream.writeStream.format("memory")
            .queryName("mathfold_one_parse")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        assert query._jsq.explainInternal(False).count("from_json(") == 1
        assert sorted(
            r.p3 for r in spark.table("mathfold_one_parse").collect()
        ) == sorted(_col(apply_specs(payloads, TEST_SH), "p3"))
