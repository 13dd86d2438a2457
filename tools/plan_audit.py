"""Catalyst plan-audit gate: assert the physical-plan properties the
100-TB story depends on, without executing anything (explain only).

Checks, per headline query:
- **No row-at-a-time Python** on any hot path: `BatchEvalPython`
  (the legacy per-row UDF operator) must never appear; Python stays
  Arrow-vectorized (`ArrowEvalPython` / `MapInPandas` /
  `FlatMapGroupsInPandas`).
- **No cartesian products** anywhere except the reference-mandated
  broadcast parameter grid (`BroadcastNestedLoopJoin` over a 3-row
  broadcast is allowed there and only there).
- **Scan pruning**: parquet scans must not read all columns when the
  query projects a subset (ReadSchema narrower than the table), and
  filtered scans must push predicates (`PushedFilters` non-empty).
- **Exchange budget**: the assembly cascade stays exchange-minimal —
  ONE shuffle for the whole word->doc rebuild (the (url, engine)
  repartition; every groupBy key extends its prefix). A regression
  that reintroduces per-level shuffles fails the audit.
- **Whole-stage codegen present** in every aggregation pipeline.
- **No tokenizer re-evaluated inside a lambda**: Spark runs a lambda
  body once per element and shares nothing with the row outside it,
  so a ``split(text)`` / ``regexp_extract_all(text)`` inside a
  ``lambdafunction`` re-tokenizes the whole row at every position.
  Every named plan and registry row's optimized logical plan is
  scanned; a tokenizer inside a lambda must take a lambda variable as
  its input. A synthetic re-splitting shingle builder must be flagged.

Usage: python tools/plan_audit.py [sf_dir]   (exit 1 on violation)
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def optimized_plan_of(df) -> str:
    qe = df._jdf.queryExecution()  # noqa: SLF001
    # every field printed: the default maxFields elides wide projections
    return qe.optimizedPlan().treeString(True, False, 2**31 - 1, False, False)


_TOKENIZER = re.compile(r"(?<![\w.])(split|regexp_extract_all)\(")


def _group_end(s: str, i: int, at_comma: bool) -> int:
    """Index of the paren closing the group that starts at ``i`` — or
    of its first top-level comma when ``at_comma``."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] == "(":
            depth += 1
        elif s[j] == ")":
            if depth == 0:
                return j
            depth -= 1
        elif s[j] == "," and depth == 0 and at_comma:
            return j
    return len(s)


def lambda_tokenizers(plan: str) -> list[str]:
    """Tokenizer calls inside a ``lambdafunction`` whose input is not a
    lambda variable — each one re-tokenizes its row per element."""
    hits: dict[int, str] = {}
    for lam in re.finditer(r"lambdafunction\(", plan):
        body = plan[lam.end():_group_end(plan, lam.end(), False)]
        for tok in _TOKENIZER.finditer(body):
            arg = body[tok.end():_group_end(body, tok.end(), True)]
            # bound variables print as `lambda x_1#7` (expressions) or
            # `namedlambdavariable()` (auto-generated column names)
            if not re.search(r"lambda |namedlambdavariable\(", arg):
                hits[lam.end() + tok.start()] = f"{tok.group(1)}({arg}, ...)"
    return list(hits.values())


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from ocr_compare_spark import synth
    from ocr_compare_spark.operators import dedup, similarity
    from ocr_compare_spark.operators.assemble import assemble_doc_text
    from ocr_compare_spark.operators.compare import pairwise_compare
    from ocr_compare_spark.operators.extract import (
        ASSEMBLY_SPAN_FIELDS,
        extract_spans_stream,
        run_engines_fused,
    )
    from ocr_compare_spark.operators.winner import pick_winner
    from ocr_compare_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    pages = synth.pages_from_documents(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet")
    li = spark.read.parquet(f"{sf_dir.rstrip('/')}/lineitem.parquet")

    results = run_engines_fused(pages, with_spans=False)
    frames = {
        "extract_multi_engine": results,
        "compare_align": pairwise_compare(results, with_alignment=True),
        "winner": pick_winner(results),
        "spans_assemble": assemble_doc_text(
            extract_spans_stream(pages, engines=("dom",), fields=ASSEMBLY_SPAN_FIELDS)
        ),
        "dedup_minhash": dedup.lsh_candidates(docs, "doc_id", "text", verify_threshold=0.5),
        "embed_topk": similarity.brute_force_topk_df(
            emb, emb.filter(F.col("vec_id") < 8), k=3
        ),
        "tpch_q1": li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty")),
    }
    plans = {name: plan_of(df) for name, df in frames.items()}

    violations: list[str] = []

    def check(name: str, cond: bool, msg: str) -> None:
        if not cond:
            violations.append(f"{name}: {msg}")

    def check_tokenizers(name: str, df) -> None:
        hits = lambda_tokenizers(optimized_plan_of(df))
        check(name, not hits, f"tokenizer re-evaluated inside a lambda: {hits[:2]}")

    # the rule must see the trap: the re-splitting shingle form (the
    # split referenced from the window lambda) has to be flagged
    toks = F.split(F.col("text"), r"\s+")
    resplit = docs.select(F.explode(F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, 3), " "),
    ))))
    check("tokenizer_rule_repro", bool(lambda_tokenizers(optimized_plan_of(resplit))),
          "lambda-tokenizer rule does not flag the re-splitting shingle form")

    for name, df in frames.items():
        check_tokenizers(name, df)
    for name, p in plans.items():
        check(name, "BatchEvalPython" not in p, "row-at-a-time Python UDF in plan")
        check(name, "CartesianProduct" not in p, "cartesian product in plan")
        check(name, "BroadcastNestedLoopJoin" not in p, "non-equi nested-loop join in plan")

    # tpch_q1: predicate pushdown + column pruning must reach the scan
    q1 = plans["tpch_q1"]
    check("tpch_q1", re.search(r"PushedFilters: \[.*LessThanOrEqual", q1) is not None,
          "shipdate filter not pushed to the parquet scan")
    m = re.search(r"ReadSchema: struct<([^>]*)>", q1)
    check("tpch_q1", m is not None and 0 < len(m.group(1).split(",")) <= 4,
          f"scan reads {m and m.group(1)} — expected <=4 pruned columns")

    # dedup_minhash: doc scan pruned to (doc_id, text)
    for m2 in re.finditer(r"ReadSchema: struct<([^>]*)>", plans["dedup_minhash"]):
        cols = {c.split(":")[0] for c in m2.group(1).split(",") if c}
        check("dedup_minhash", cols <= {"doc_id", "text"},
              f"documents scan reads {sorted(cols)} — expected subset of doc_id,text")

    # embed_topk: embeddings scan pruned to (vec_id, embedding)
    for m3 in re.finditer(r"ReadSchema: struct<([^>]*)>", plans["embed_topk"]):
        cols = {c.split(":")[0] for c in m3.group(1).split(",") if c}
        check("embed_topk", cols <= {"vec_id", "embedding"},
              f"embeddings scan reads {sorted(cols)}")

    # assembly cascade: exactly ONE shuffle (the (url, engine)
    # repartition) feeds the whole word->line->elem->block->page->doc
    # rebuild (every groupBy key extends the partitioning prefix, so
    # all ten partial/final ObjectHashAggregate passes reuse it).
    # collect_list aggregation is object-hash — legitimately outside
    # whole-stage codegen — so no codegen assertion here. A second
    # exchange is the r6 INPUT-spread repartition below the payload
    # UDF (pages_from_documents' scale-adaptive default — the 1-2
    # parquet splits would otherwise serialize payload building and
    # the parse/emit worker pass); budget = exactly these two.
    asm = plans["spans_assemble"]
    n_exch = len(re.findall(r"\(\d+\) Exchange\b", asm))
    check("spans_assemble", n_exch == 2,
          f"{n_exch} exchanges in the assembly cascade — expected 2 "
          "(input spread + the (url, engine) cascade shuffle)")

    # pure-SQL aggregation: codegen-eligible HashAggregate (never the
    # object-hash fallback) with a partial/final map-side-combine pair
    # (AQE assigns codegen ids at execution, so assert the operator
    # choice — HashAggregate IS the whole-stage-codegen'd aggregate)
    check("tpch_q1", len(re.findall(r"\(\d+\) HashAggregate", plans["tpch_q1"])) >= 2
          and "partial_sum" in plans["tpch_q1"],
          "expected a codegen HashAggregate partial/final pair")

    # compare: the pair generation must be the groupBy+explode form,
    # never a self-join on url (two scans of the results)
    check("compare_align", "SortMergeJoin" not in plans["compare_align"],
          "self-join in pair generation (expected combination explode)")

    # winner: map-side combine (partial aggregation) present
    check("winner", len(re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate",
                                   plans["winner"])) >= 2,
          "no partial/final aggregate pair for winner selection")

    # ---- ANN plan-size cap (VERDICT r4 #1): the data path must keep
    # the Catalyst plan O(1) in (dim x cells/planes). Build the REAL
    # shape — dim 768, 1024 IVF cells / 16x8 LSH planes — on a lazy
    # synthetic input and cap the formatted plan string. The literal
    # path at this shape would be ~1M expression nodes; the cap fails
    # any regression that reintroduces per-coefficient literals.
    emb768 = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 768), i -> cast(i as double) / 768.0)").alias("embedding"),
    )
    q768 = emb768.filter(F.col("vec_id") < 8)
    ann_plans = {
        "ann_ivf_data_768x1024": plan_of(
            similarity.ivf_topk(
                emb768, q768, k=3, nprobe=16,
                centroids=similarity.seeded_centroids(1024, 768), dim=768, method="data",
            )
        ),
        "ann_lsh_data_768x16x8": plan_of(
            similarity.lsh_topk(
                emb768, q768, k=3, n_planes=16, n_tables=8, dim=768, method="data"
            )
        ),
        # FAISS-shaped PQ: 8 subspaces x 256 codes x 96 dims — a
        # per-coefficient literal fold would be ~200k literals; both
        # spellings run the one broadcast-codebook LUT scan and must
        # stay O(1)
        **{
            f"ann_pq_{method}_768x8x256": plan_of(
                similarity.pq_topk(
                    emb768, q768, k=3, n_sub=8, n_codes=256,
                    codebooks=similarity.seeded_pq_codebooks(8, 256, 96),
                    dim=768, method=method,
                )
            )
            for method in ("literal", "data")
        },
        # the full FAISS composition (IVF1024,PQ8x256): routed
        # compressed scan — one mapInPandas over the codes table
        "ann_ivfpq_768x1024x8x256": plan_of(
            similarity.ivfpq_topk(
                emb768, q768, k=3, nprobe=16,
                centroids=similarity.seeded_centroids(1024, 768),
                codebooks=similarity.seeded_pq_codebooks(8, 256, 96),
                n_sub=8, n_codes=256, dim=768,
            )
        ),
    }
    ANN_PLAN_CAP = 60_000  # chars; literal path at this shape is megabytes
    for name, p in ann_plans.items():
        check(name, len(p) < ANN_PLAN_CAP,
              f"plan string {len(p)} chars >= cap {ANN_PLAN_CAP} — literal blow-up regression")
        check(name, "BatchEvalPython" not in p, "row-at-a-time Python UDF in plan")
        check(name, "CartesianProduct" not in p, "cartesian product in plan")
        check(name, "MapInPandas" in p, "expected Arrow mapInPandas assignment stage")

    # ---- registry-wide sweep: every queries() entry, generic
    # anti-patterns only. Explains the returned DataFrame's plan;
    # a few entries eagerly run helper jobs while BUILDING (cache
    # roundtrip, trained IVF, streaming driver rows) — their cost is
    # bounded by the sf0.01 gate and the final plan is still lazy.
    # BroadcastNestedLoopJoin is whitelisted ONLY for param_grid (the
    # reference-mandated 3-row broadcast parameter grid).
    import __spark_entry__ as entry_mod

    registry_audited = []
    for name, fn in sorted(entry_mod.queries().items()):
        try:
            df = fn(spark, sf_dir)
            p = plan_of(df)
        except Exception as e:  # a query that cannot build is a violation
            violations.append(f"registry:{name}: failed to build plan: {type(e).__name__}: {e}")
            continue
        registry_audited.append(name)
        check_tokenizers(f"registry:{name}", df)
        check(f"registry:{name}", "BatchEvalPython" not in p,
              "row-at-a-time Python UDF in plan")
        check(f"registry:{name}", "CartesianProduct" not in p,
              "cartesian product in plan")
        if name != "param_grid":
            check(f"registry:{name}", "BroadcastNestedLoopJoin" not in p,
                  "non-equi nested-loop join in plan")

    out = {
        "sf_dir": sf_dir,
        "queries_audited": sorted(plans),
        "registry_audited": len(registry_audited),
        "violations": violations,
        "ok": not violations,
    }
    print(json.dumps(out))
    if os.environ.get("PLAN_AUDIT_DUMP"):
        os.makedirs("BENCH", exist_ok=True)
        with open("BENCH/PLANS_latest.txt", "w") as f:
            for name, p in plans.items():
                f.write(f"==== {name} ====\n{p}\n\n")
    spark.stop()
    return 1 if violations else 0


if __name__ == "__main__":
    sys.exit(main())
