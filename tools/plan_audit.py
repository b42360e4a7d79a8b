"""Physical-plan audit: .explain("formatted") for the headline queries,
checking the properties that matter at 100 TB — filter/column pushdown to the
parquet scan, broadcast joins for dimensions, whole-stage codegen coverage —
and writing a reviewable PLANS.md.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from fia_own_map_spark.session import build_session

CODEGEN = r"\*\(\d+\)"  # whole-stage-codegen span marker in simple explain
# expression and plan ids are session-wide counters: one plan change
# renumbers every later query, so PLANS.md carries them masked (the checks
# read the raw text)
RUN_IDS = re.compile(r"(#|plan_id=)\d+")

AUDITED = [
    # (query, expectations — regex over formatted + simple explain output)
    ("tpch_q1_pricing", ["PushedFilters: \\[IsNotNull", CODEGEN, "ReadSchema",
                         "partial_sum"]),
    ("join_customer_nation_revenue", ["BroadcastHashJoin", CODEGEN]),
    ("region_nation_lut", ["BroadcastHashJoin"]),
    ("priority_dedupe_orders", ["Window", CODEGEN]),
    ("anti_join_customers_no_orders", ["Anti", "PushedFilters"]),
    ("dedup_exact_keep", ["LeftSemi|Semi"]),
    ("ann_cosine_topk", ["BroadcastNestedLoopJoin|BroadcastHashJoin|Cross"]),
    # the one scoring kernel (mapInPandas), no Column pandas UDF
    ("er_score_pairs", ["MapInPandas", "!ArrowEvalPython"]),
    ("window_orders_per_customer", ["Window"]),
    # asof: union-sort window — must contain NO join operator of any kind
    ("asof_last_click", ["Union", "Window", "!Join", "!CartesianProduct"]),
    # range join: bin-bucketed equi-join — never a nested-loop/cartesian
    ("range_clicks_before_purchase",
     ["SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!BroadcastNestedLoopJoin", "!CartesianProduct"]),
    ("sessionize_events", ["Window"]),
    ("ml_cascade_lang", ["MapInPandas|FlatMapGroupsInPandas"]),
    # xxhash64 family + persisted banded table (computed once, reused thrice)
    ("dedup_minhash_fast", ["xxhash64", "InMemoryTableScan|InMemoryRelation"]),
    # r4: cluster-keyed aggregates must be groupBy+join, NEVER windows — a
    # window over cluster_id single-tasks the giant head component (888s ->
    # 104s at the 800k-page corpus when this was fixed)
    ("er_cluster_documents", ["HashAggregate", "!Window"]),
    # r4: OR-amplified LSH = equi-join on bucket + candidate dedup; the
    # final top-k windows partition on bounded keys (query, partition id)
    ("ann_lsh_multi_topk",
     ["SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", "!CartesianProduct"]),
    # r4: vectorized simhash (Arrow UDF) + pigeonhole-block equi-join
    ("dedup_simhash_pairs",
     ["ArrowEvalPython|BatchEvalPython",
      "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", "!CartesianProduct"]),
    # second key family — JVM soundex expr + the metaphone mapInPandas stage
    ("er_blocking_keys_soundex", ["soundex", "MapInPandas"]),
    # r5: HLL registers — all-native exprs (xxhash64 + bin), partial max on
    # (group, bucket) before the shuffle; no UDF anywhere in the sketch
    ("sketch_hll_custkeys",
     ["xxhash64", "partial_max", "!ArrowEvalPython", "!BatchEvalPython",
      "!CartesianProduct"]),
    # r5: CMS grid — partial sum on (row, col) before the shuffle; the
    # top-20 estimate probes the slim state via broadcast join
    ("sketch_cms_topcust",
     ["xxhash64", "partial_sum", "BroadcastHashJoin", "!ArrowEvalPython",
      "!BatchEvalPython", "!CartesianProduct"]),
    # r5: Bloom — distinct bit-set, broadcast membership probe
    ("sketch_bloom_members",
     ["xxhash64", "BroadcastHashJoin", "!ArrowEvalPython",
      "!BatchEvalPython", "!CartesianProduct"]),
    # r6: integer-Lloyd IVF — centroid table is BROADCAST to the corpus
    # (the corpus itself is never shuffled by the join), argmin assignment
    # is a groupBy with map-side partial_min, everything native (no python
    # islands in training, assignment, probe, or re-rank)
    ("ann_ivf_lloyd_topk",
     ["BroadcastNestedLoopJoin|BroadcastHashJoin", "partial_min",
      "!ArrowEvalPython", "!BatchEvalPython", "!CartesianProduct"]),
    # r7: span dedup — 8-byte hashed-shingle shuffle with map-side partial
    # count, AQE-splittable SEMI join back, per-doc interval merge as a
    # native fold (never a window over unbounded doc keys)
    ("span_dedup_stats",
     ["xxhash64", "LeftSemi|Semi", "partial_count|partial_", "!Window",
      "!CartesianProduct", "!ArrowEvalPython", "!BatchEvalPython"]),
    # r7: composed cleaning pipeline — one fused lazy plan, all native
    ("corpus_clean_tags",
     ["!Window", "!CartesianProduct", "!ArrowEvalPython", "!BatchEvalPython"]),
    # r7: trigram-LM scoring — count-table equi-joins + one groupBy(doc)
    # sum; quantized-log exprs are native (no python islands anywhere)
    ("lm_doc_logprob",
     ["HashAggregate", "!Window", "!CartesianProduct", "!ArrowEvalPython",
      "!BatchEvalPython"]),
    # r7: decontamination — hashed-shingle equi-join of train occurrences
    # against the (small) eval shingle set; per-doc distinct counts
    ("decontam_eval_overlap",
     ["xxhash64", "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
      "!Window", "!CartesianProduct", "!ArrowEvalPython", "!BatchEvalPython"]),
]


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        print("\n=== simple / final AQE plan (codegen spans) ===")
        df.explain(extended=False)
    return buf.getvalue()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # AQE hides codegen spans until runtime finalization; the audit inspects
    # the static plan (production runs keep AQE on — it only re-plans
    # exchanges, never un-fuses codegen stages)
    spark = build_session(
        "plan-audit", master="local[4]", shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    qs = entrymod.queries()
    sections = []
    failures = 0
    for name, expectations in AUDITED:
        txt = plan_text(qs[name](spark, sf_dir))
        checks = []
        for exp in expectations:
            if exp.startswith("!"):  # negative expectation: must NOT match
                ok = re.search(exp[1:], txt) is None
            else:
                ok = re.search(exp, txt) is not None
            checks.append(f"  - `{exp}`: {'✓' if ok else '✗ MISSING'}")
            if not ok:
                failures += 1
        # column pruning sanity: ReadSchema should not include every column
        sections.append(
            f"## {name}\n\nChecks:\n" + "\n".join(checks) + "\n\n```\n"
            + RUN_IDS.sub(r"\1N", txt) + "```\n"
        )
        print(f"{name}: " + ("OK" if all("✓" in c for c in checks) else "CHECK FAILED"))

    header = (
        "# PLANS — physical-plan audit (auto-generated by tools/plan_audit.py)\n\n"
        "What to look for at 100 TB: `PushedFilters`/`ReadSchema` prove scan-level\n"
        "pushdown + pruning; `BroadcastHashJoin` proves dimension joins never\n"
        "shuffle the fact side; `WholeStageCodegen` spans show JVM-side fused\n"
        "execution; `ArrowEvalPython` and `MapInPandas` mark the (deliberate,\n"
        "batched) Python islands.\n\n"
    )
    with open("PLANS.md", "w") as f:
        f.write(header + "\n".join(sections))
    print(f"\nwrote PLANS.md ({failures} missing expectations)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
