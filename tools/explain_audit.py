"""Physical-plan audit: assert the plans we want, not just the results.

For each audited query: capture .explain('formatted') and check
plan-shape expectations -- filters pushed to the parquet scan, column
pruning (ReadSchema), broadcast joins where a side is small, no Exchange
where none is needed, WholeStageCodegen coverage.

Usage: python tools/explain_audit.py [sf_dir]
Exit 1 if any expectation fails (greppable FAIL lines).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHECKS = [
    # (query, [(must_contain, why)], [(must_not_contain, why)])
    ("q01_filter_project",
     [("PushedFilters: [IsNotNull(lang), EqualTo(lang,zh)]", "lang filter pushed to scan"),
      ("ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint>",
       "only needed columns read")],
     [("Exchange", "no shuffle for filter+project")]),
    ("q10_pricing_summary",
     [("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate", "date filter pushed"),
      ("partial_sum", "map-side partial aggregation"),
      ("HashAggregate", "hash aggregation (codegen-capable), not sort-based")],
     []),
    ("q11_revenue_by_nation",
     [("BroadcastHashJoin", "small dims broadcast"),
      ("partial_sum", "map-side combine")],
     [("SortMergeJoin", "no sort-merge join for broadcastable dims")]),
    ("q12_anti_join",
     [("BroadcastHashJoin", "anti join broadcasts the key side")],
     []),
    ("q14_top_order_per_cust",
     [("WindowGroupLimit", "rank<=1 pushed below the shuffle as a group limit"),
      ("Window", "window operator present")],
     []),
    ("q26_star_revenue",
     [("BroadcastHashJoin", "customer dim broadcast")],
     []),
    ("q29_events_filtered_agg",
     [("PushedFilters: [IsNotNull(value), In(event_type, [click,purchase]), GreaterThan(value,10.0)]",
       "compound predicate fully pushed")],
     []),
    ("kg_triples",
     [("MapInPandas", "fused UDF pass present"),
      ("Generate", "JVM-side triple explode"),
      ("partial_min", "map-side partial MERGE-dedup aggregation "
                      "(deterministic struct-min, still combines map-side)")],
     []),
    ("q19_exact_dedup",
     [("partial_count", "group stats combine map-side (skew-safe)")],
     [("Window", "NO window over sha: a hot key would buffer one task "
                 "(AQE cannot split window partitions)")]),
    ("ann_srp_topk",
     [("HashJoin", "probe is an equi hash join on bucket keys")],
     [("BroadcastNestedLoopJoin", "no per-query corpus scan (round-1 regression)"),
      ("CartesianProduct", "no cross join in the ANN path")]),
    ("q35_es_postings",
     [("partial_count", "posting tf aggregation combines map-side"),
      ("Generate", "JVM-side token explode")],
     [("BatchEvalPython", "tokenization must stay JVM-side")]),
    ("dedup_minhash", [], []),  # python stage count only (PYTHON_STAGES)
]

# exact number of python stages (MapInPandas / ArrowEvalPython /
# BatchEvalPython) a plan must hold: kg_triples is one fused extraction
# pass; dedup_minhash runs only the verify UDF (its signatures are
# checkpointed before the pair plan is built), so a second stage means the
# verify runs twice; ann_srp_topk runs the sign-bucket UDF once on each
# side (corpus and queries), so a third stage means one side runs it twice
PYTHON_STAGES = {"kg_triples": 1, "dedup_minhash": 1, "ann_srp_topk": 2}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry_mod
    from textchunking_and_knowledgegraph_spark.session import build_session

    spark = build_session(app_name="explain-audit")
    qs = entry_mod.queries()
    failures = 0
    import re

    def _probe(name):
        # the CONTRACT kg_triples persists the facts boundary for its
        # split-lineage oracle, so its returned plan is just a parquet
        # read; the ENGINE plan (what a pipeline user runs, and what the
        # fused-UDF/partial-dedup pins are about) is build_triples
        if name == "kg_triples":
            from textchunking_and_knowledgegraph_spark.plans.pipeline import (
                build_triples,
            )

            return build_triples(spark, entry_mod._docs_source(spark, sf_dir))
        return qs[name](spark, sf_dir)

    for name, must, must_not in CHECKS:
        plan = plan_of(_probe(name))
        udf_count = len(re.findall(r"\(\d+\) (?:MapInPandas|ArrowEvalPython|BatchEvalPython)", plan))
        want = PYTHON_STAGES.get(name)
        if want is not None and udf_count != want:
            failures += 1
            print(f"FAIL {name}: expected exactly {want} python stage(s), saw {udf_count}")
        n_exchanges = plan.count("Exchange")
        for needle, why in must:
            if needle not in plan:
                failures += 1
                print(f"FAIL {name}: missing [{needle}] ({why})")
        for needle, why in must_not:
            if needle in plan:
                failures += 1
                print(f"FAIL {name}: unwanted [{needle}] ({why})")
        print(f"OK   {name}: exchanges={n_exchanges} python_stages={udf_count}")
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
