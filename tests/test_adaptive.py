"""operators.adaptive: the one size model and build-side decision."""

from __future__ import annotations

import pytest

from ocr_compare_spark.operators import adaptive


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_table_bytes_hand_computed(spark):
    df = spark.createDataFrame(
        [
            ("héllo", 1, 2, 3.0, [1, 2, 3]),
            (None, 5, None, 1.5, []),
            ("日本", None, 7, None, None),
        ],
        "s string, l long, i int, d double, a array<long>",
    )
    # per row: ROW_OVERHEAD + utf-8 bytes + long 8 + int 4 + double 8
    # + 8 per array element; a NULL counts 0
    expected = (
        (48 + 6 + 8 + 4 + 8 + 3 * 8)  # "héllo" is 6 bytes
        + (48 + 0 + 8 + 0 + 8 + 0)  # NULL string, NULL int, empty array
        + (48 + 6 + 0 + 4 + 0 + 0)  # "日本" is 6 bytes; NULL long, double, array
    )
    assert adaptive.ROW_OVERHEAD == 48
    assert adaptive.table_bytes(df) == expected


def test_table_bytes_empty_table_is_zero(spark):
    assert adaptive.table_bytes(spark.range(0)) == 0


def test_table_bytes_refuses_unsized_type(spark):
    df = spark.createDataFrame([({"a": 1},)], "m map<string, int>")
    with pytest.raises(TypeError, match="no size model for m"):
        adaptive.table_bytes(df)


@pytest.mark.parametrize(
    "over_cap, fallback, strategy",
    [
        (False, "shuffle_hash", "BroadcastHashJoin"),
        (True, "shuffle_hash", "ShuffledHashJoin"),
        (True, "merge", "SortMergeJoin"),
    ],
)
def test_build_side_join_strategy(spark, over_cap, fallback, strategy):
    big = spark.range(1000).withColumnRenamed("id", "k")
    small = spark.range(10).withColumnRenamed("id", "k")
    cap = adaptive.HASH_RELATION_OVERHEAD * adaptive.table_bytes(small) - over_cap
    side = adaptive.build_side(small, cap, fallback)
    joined = big.join(side(small), "k")
    plan = _formatted(joined)
    assert strategy in plan
    assert sum(j in plan for j in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")) == 1
    assert sorted(r.k for r in joined.collect()) == list(range(10))
