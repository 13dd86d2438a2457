"""operators.adaptive: the one size model, build-side decision and
bounded driver collect."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ocr_compare_spark.operators import adaptive, dedup, graph


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _nbytes(df) -> int:
    return adaptive.materialize(df, nbytes=adaptive.row_bytes(df))[1]["nbytes"]


def test_row_bytes_hand_computed(spark):
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
    assert _nbytes(df) == expected


def test_materialize_empty_table_is_zero(spark):
    out, measured = adaptive.materialize(spark.range(0), nbytes=adaptive.row_bytes(spark.range(0)))
    assert measured == {"nbytes": 0}
    assert out.count() == 0


def test_row_bytes_refuses_unsized_type(spark):
    df = spark.createDataFrame([({"a": 1},)], "m map<string, int>")
    with pytest.raises(TypeError, match="no size model for m"):
        adaptive.row_bytes(df)


def test_materialize_runs_the_jobs_of_a_bare_checkpoint(spark):
    """The sums ride the checkpoint's own jobs: no job of their own."""
    df = spark.range(200).withColumn("g", F.col("id") % 7).groupBy("g").count()
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            result = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), result

    bare, _ = jobs("adaptive_bare", lambda: df.localCheckpoint(eager=True))
    observed, (out, measured) = jobs(
        "adaptive_observed", lambda: adaptive.materialize(df, n=F.col("count"), rows=F.lit(1))
    )
    assert bare >= 1
    assert observed == bare
    assert measured == {"n": 200, "rows": 7}
    assert out.count() == 7


def test_collect_bounded_at_and_over_cap(spark):
    df = spark.range(5)
    assert sorted(r.id for r in adaptive.collect_bounded(df, 5, "too many")) == list(range(5))
    with pytest.raises(ValueError, match="^too many ids$"):
        adaptive.collect_bounded(df, 4, "too many ids")


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
    nbytes = _nbytes(small)
    side = adaptive.build_side(nbytes, adaptive.HASH_RELATION_OVERHEAD * nbytes - over_cap, fallback)
    joined = big.join(side(small), "k")
    plan = _formatted(joined)
    assert strategy in plan
    assert sum(j in plan for j in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")) == 1
    assert sorted(r.k for r in joined.collect()) == list(range(10))


def test_build_sides_get_the_bytes_of_the_table_they_broadcast(spark, monkeypatch):
    """Each operator's build-side decision receives the raw bytes of
    the very table it would broadcast, as a separate aggregate over
    that table measures them."""
    got: list[int] = []
    real = adaptive.build_side

    def recording(nbytes, cap, fallback):
        got.append(nbytes)
        return real(nbytes, cap, fallback)

    monkeypatch.setattr(dedup, "build_side", recording)
    monkeypatch.setattr(graph, "build_side", recording)

    def measured(t) -> int:
        return t.agg(F.sum(adaptive.row_bytes(t))).first()[0]

    docs = spark.createDataFrame(
        [(f"d{i}", f"w{i % 7} common text body shared tokens run {i % 3} tail {i}") for i in range(40)],
        "id string, text string",
    )  # distinct texts: the representatives are the rows
    sigs = dedup.minhash_tables(docs, "id", "text")
    dedup.lsh_candidates(docs, "id", "text")
    assert got == [measured(sigs.select("id", "sh")), measured(dedup._band_rows(sigs, "store_id"))]

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 2), (5, 6), (6, 7)], "src long, dst long")
    nodes = edges.select(F.col("src").alias("node")).union(edges.select("dst")).distinct()
    got.clear()
    dedup.connected_components(edges, "src", "dst")
    assert got == [measured(nodes.select(F.col("node").alias("id"), F.col("node").alias("component")))]
    for op, col in ((graph.pagerank, "rank6"), (graph.hits, "score6")):
        got.clear()
        op(edges, iters=1)
        assert got == [measured(nodes.select("node", F.lit(graph.RANK_ONE6).cast("long").alias(col)))]


def test_node_cap_is_read_when_each_operator_runs(spark, monkeypatch):
    """connected_components, pagerank and hits read
    graph.NODE_BROADCAST_MAX_BYTES when they run, so patching it (as
    test_graph's forced shuffled-hash run does) reaches all three."""
    caps: list[int] = []
    real = adaptive.build_side

    def recording(nbytes, cap, fallback):
        caps.append(cap)
        return real(nbytes, cap, fallback)

    monkeypatch.setattr(dedup, "build_side", recording)
    monkeypatch.setattr(graph, "build_side", recording)
    monkeypatch.setattr(graph, "NODE_BROADCAST_MAX_BYTES", 1)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    dedup.connected_components(edges, "src", "dst")
    graph.pagerank(edges, iters=1)
    graph.hits(edges, iters=1)
    assert caps == [1, 1, 1]


LIBRARY = Path(__file__).resolve().parents[1] / "ocr_compare_spark"


def _size_reads(tree) -> list[int]:
    """Lines that chain ``.limit(<cap> + 1)`` into ``.collect()`` (a
    cap constant plus one: the guarded driver collect) or name
    ``table_bytes``."""
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "collect"
            and isinstance(node.func.value, ast.Call)
            and isinstance(node.func.value.func, ast.Attribute)
            and node.func.value.func.attr == "limit"
            and len(node.func.value.args) == 1
        ):
            arg = node.func.value.args[0]
            if (
                isinstance(arg, ast.BinOp)
                and isinstance(arg.op, ast.Add)
                and isinstance(arg.left, (ast.Name, ast.Attribute))
                and isinstance(arg.right, ast.Constant)
                and arg.right.value == 1
            ):
                lines.append(node.lineno)
        named = (
            getattr(node, "id", None) or getattr(node, "attr", None)
            or getattr(node, "name", None) or getattr(node, "asname", None)
        )
        if named == "table_bytes":
            lines.append(node.lineno)
    return lines


def test_only_adaptive_reads_sizes_back():
    """Bounded collects go through adaptive.collect_bounded and sizes
    through adaptive.materialize; no other library file rolls its own."""
    found = [
        f"{path.relative_to(LIBRARY)}:{line}"
        for path in sorted(LIBRARY.rglob("*.py"))
        if path != LIBRARY / "operators" / "adaptive.py"
        for line in _size_reads(ast.parse(path.read_text(), str(path)))
    ]
    assert found == []


def test_size_read_rule_flags_each_spelling():
    src = """
rows = q.select("id").limit(CAP + 1).collect()
rows = q.limit(mod.CAP + 1).collect()
from m import table_bytes
n = adaptive.table_bytes(df)
rows = q.limit(CAP * 8 + 1).collect()
rows = q.limit(CAP).collect()
"""
    assert _size_reads(ast.parse(src)) == [2, 3, 4, 5]
