"""Generate PLANS.md — physical-plan evidence for the engine's scale claims.

For a representative slice of the registry, prints the formatted plan and
asserts the properties that matter at 100 TB (SURVEY §4 / README scale
posture): filters pushed to the parquet scan, pruned ReadSchema, broadcast
joins on small dims, whole-stage codegen coverage, no cartesian products.

Usage: python tools/explain_report.py  (writes PLANS.md at repo root)

The session runs at a pinned ``local[4]``, and the written plans have their
per-run ids (expression, plan, codegen and query-stage ids) renumbered in
order of appearance and their per-run values (AQE runtime statistics,
temporary paths, commit and file ids) replaced by placeholders, so an
unchanged plan writes unchanged text at any core count. The properties
are checked on the plans as Spark prints them.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_iceberg_lakehouse_workshop_spark.registry import full_registry as registry
from apache_iceberg_lakehouse_workshop_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# query -> properties we assert about its physical plan
PROBES: dict[str, list[str]] = {
    "p2_projection_filter": ["pushed_filter", "pruned_schema", "codegen"],
    "j1_inner_equi": ["broadcast_join", "codegen"],
    "j5_interval_join": ["codegen"],
    "j6_anti_join": ["broadcast_join"],
    "a1_pricing_summary": ["pushed_filter", "partial_agg", "codegen"],
    "a9_multikey_group": ["partial_agg"],
    "w2_rolling_7day": ["single_sort_window"],
    "o1_topk": ["take_ordered"],
    "m1_medallion_gold": ["broadcast_join", "pushed_filter"],
    "d1_exact_dup_groups": ["partial_agg"],
    "t1_token_stats": ["codegen", "no_python_udf"],
    "s1_knn_bruteforce": ["no_cartesian_blowup"],
    "e3_session_rollup": ["no_python_udf", "codegen"],
    # w5's RANGE window is deliberately unpartitioned — its input is the
    # by-day AGGREGATE (cardinality = calendar days, volume-independent).
    # global_window_post_agg pins that: a future edit moving the global
    # window onto raw rows fails the gate. Same whitelist reasoning for
    # e6_gapfill / a24_histogram CDF windows (O(days) / O(bins) inputs).
    "w5_rolling_range": ["single_sort_window", "global_window_post_agg"],
    "j11_full_outer": ["no_cartesian_blowup", "partial_agg"],
    "a17_rollup_hierarchy": ["partial_agg", "pruned_schema"],
    # as-of join: the whole point is ONE sort-window pass, no join node at
    # all -> |L|+|R| shuffle volume and no candidate explosion on dense keys
    "j13_asof_join": ["single_sort_window", "no_python_udf", "no_cartesian_blowup"],
    "a18_percentiles": ["partial_agg", "pruned_schema"],
    # minhash-LSH: signatures are partial-aggregated mins (codegen, no
    # interpreted lambdas in the hot path) and candidates come from an
    # equi-join, never a cross product
    "d2_minhash_lsh_pairs": ["partial_agg", "no_python_udf", "no_cartesian_blowup"],
    # two-phase agg: partial on (key, salt) + final on key -> >= 2 hash aggs
    "sk2_two_phase_agg": ["partial_agg"],
    # deterministic sampling: map-only codegen'd filter, no UDFs, no shuffle
    "t5_stratified_sample": ["codegen", "no_python_udf"],
    # winnowing overlap: relational winnow (windowed leads + window min),
    # fingerprint equi-join — never a cross product, no Python
    "t7_winnow_overlap": ["no_python_udf", "no_cartesian_blowup", "partial_agg"],
    # vocab stats: partial-aggregated counts + global top-k
    "t8_vocab_topk": ["partial_agg", "take_ordered", "no_python_udf"],
    # GROUPING SETS / CUBE: every grouping combination from ONE scan via
    # Expand — not a rescan-per-level union
    "a19_grouping_sets": ["expand_one_scan", "partial_agg"],
    "a20_cube": ["expand_one_scan", "partial_agg"],
    # hot-key split as-of: windows keyed by (key, __bucket) so a skewed key
    # parallelizes; still no join-node candidate explosion, no Python
    "j15_asof_split": ["bucketed_window", "no_python_udf", "no_cartesian_blowup"],
    # decontamination: tiny bench gram set broadcast -> map-side flagging
    # join; train-side work is window + partial-agg'd groupBy, no Python
    "t9_decontaminate": ["broadcast_join", "no_python_udf", "partial_agg"],
    # repetition signals: one token explode, partial-agg'd counts, no Python
    "t10_repetition": ["partial_agg", "no_python_udf"],
    # PII scrub: pure map — codegen regex, ZERO exchanges at any scale
    "t11_pii_scrub": ["codegen", "no_python_udf", "no_exchange"],
    # five ranking functions share one WINDOW spec -> ONE Window/sort node
    "w6_window_funcs": ["single_sort_window", "no_python_udf"],
    # curation pipeline: quality gate + fingerprint dedup + split in one
    # composition — partial-agg'd shuffles, hash joins, no Python anywhere
    "c1_curation_pipeline": ["partial_agg", "no_python_udf", "no_cartesian_blowup"],
    # embedding near-dup at scale: bucket-blocked candidates, never all-pairs
    "s5_embedding_neardup_lsh": ["partial_agg", "no_python_udf", "no_cartesian_blowup"],
    # exact moment sums: partial+final hash agg over scaled ints, no Python
    "a23_stat_aggs": ["partial_agg", "codegen", "no_python_udf"],
    # EXISTS/NOT EXISTS decorrelate to semi/anti joins — no per-row subquery
    "p11_exists_subquery": ["semi_anti_join", "no_cartesian_blowup"],
    # correlated scalars decorrelate to ONE aggregate + join
    "p12_correlated_scalar": ["partial_agg", "no_cartesian_blowup"],
    "e4_funnel": ["partial_agg", "no_python_udf"],
    "e5_cohort_retention": ["partial_agg", "no_python_udf"],
    # dense-axis grid comes from sequence+explode over one broadcast row,
    # then ONE left join back — no scan-sized blowup
    "e6_gapfill": ["partial_agg", "no_python_udf", "no_cartesian_blowup",
                   "global_window_post_agg"],
    # histogram: one partial-aggregated scan, codegen bucket math
    "a24_histogram": ["partial_agg", "codegen", "no_python_udf",
                      "global_window_post_agg"],
    # PQ-ADC serving: the codebook and per-query distance table broadcast
    # (map-side equi-joins), distance sums partial-aggregate, and no
    # candidate cross product ever materializes. The index build (cell
    # assignment / PQ encoding) is the sanctioned Arrow-kernel shape:
    # dense int64 linear algebra where numpy matmul over Arrow batches
    # beats interpreted SQL array lambdas ~20x — arrow_kernel asserts the
    # kernel is THERE and that no row-at-a-time Python ever appears
    # (results pinned by the s6 oracle and test_ann_kernels_match_frozen_golden)
    "s6_knn_pq": ["broadcast_join", "partial_agg", "arrow_kernel",
                  "no_cartesian_blowup"],
    # IVF x PQ composed: centroids, codebook, probe set and distance
    # tables ALL broadcast; scoring is cell-restricted map-side equi-joins
    # + one partial-aggregated distance sum — no cross product
    "s7_knn_ivfpq": ["broadcast_join", "partial_agg", "arrow_kernel",
                     "no_cartesian_blowup"],
    "s8_knn_ivfpq_res": ["broadcast_join", "partial_agg", "arrow_kernel",
                         "no_cartesian_blowup"],
    # persisted ANN index (round 9): serving from the prebuilt lakehouse
    # tables keeps the s7 serve shape — broadcast probe set + distance
    # tables against the codes scan, one partial-aggregated ADC sum —
    # with NO training or corpus-encode stage in the plan at all
    "s12_knn_persisted": ["broadcast_join", "partial_agg",
                          "no_cartesian_blowup", "no_python_udf"],
    # persisted BM25 (round 9): term-pruned postings scan joined to the
    # narrow doclen table, one partial-agg'd per-doc sum, top-k heap —
    # the corpus text is never in the plan
    "s13_bm25_persisted": ["partial_agg", "take_ordered", "no_python_udf",
                           "no_cartesian_blowup"],
    # boilerplate scrub: gram df-count partial-aggregates, flagged set
    # joins back by gram (hash join), coverage is a per-doc window — no
    # cross product, no Python
    "t14_boilerplate_scrub": ["partial_agg", "no_python_udf",
                              "no_cartesian_blowup"],
    # domain caps: the rank<=cap filter must plan as WindowGroupLimit
    # (per-group top-cap heap) — a hot domain costs O(cap), not a sort
    "t15_domain_cap": ["window_group_limit", "no_python_udf"],
    # BM25: tf/df/dl are partial-aggregated counts, the per-term df table
    # and (N, avgdl) scalars broadcast, top-k is TakeOrderedAndProject —
    # no Python, no cross-product-sized candidate set
    # BM25 (round-9 rewrite): the tokenize + per-doc partial agg runs in
    # the checkpointed token pass (one job, invisible to this final-plan
    # explain); stats/df collapse to one O(|terms|) driver row, so the
    # served plan is projection + TakeOrderedAndProject with NO joins
    "t17_bm25_topk": ["take_ordered", "no_python_udf",
                      "no_cartesian_blowup"],
    # hybrid RRF: fusion of already-top-m lists — union + partial-agg'd
    # groupBy + top-k (the lexical side's joins vanished with the round-9
    # BM25 rewrite)
    "s10_hybrid_rrf": ["partial_agg", "take_ordered", "no_python_udf"],
    # token-id encoding: counts partial-agg, top-V heap broadcast back,
    # per-doc array_sort rebuild — no global sort over tokens, no Python
    "t19_token_ids": ["partial_agg", "broadcast_join", "no_python_udf",
                      "no_cartesian_blowup"],
    # DSIR: bucket counts partial-aggregate, the 256-row log-ratio table
    # broadcasts back onto the token stream, per-doc sums partial-agg,
    # top-100 is a heap — no global sort, no Python, no cross product
    "t18_dsir_select": ["partial_agg", "broadcast_join", "take_ordered",
                        "no_python_udf", "no_cartesian_blowup"],
    # sequence packing: the parallel prefix-sum segment sits behind a
    # localCheckpoint (single pinned execution), so the visible plan is
    # the map-side explode — the per-partition-window structure itself is
    # pinned by test_sequence_packing_invariants' partitioning-
    # independence assertion
    "t13_sequence_packing": ["no_python_udf", "no_cartesian_blowup"],
    # two-stage retrieval: stage 1 is the s7 IVFxPQ shape (broadcast
    # tables + partial-agg ADC), stage 2 joins the m candidates back by
    # id with the query block broadcast — no cross product anywhere
    "s11_two_stage_rerank": ["broadcast_join", "partial_agg",
                             "arrow_kernel", "no_cartesian_blowup"],
    # routed RAW join reflection: the WHERE rides the reflection
    # storage scan (pushed filter on the materialization's parquet)
    "r3_routed_raw_join": ["pushed_filter", "take_ordered",
                           "no_python_udf"],
    # changelog over rewritten history: ONE count-weighted multiset-diff
    # aggregation (partial+final), update pairing is a window — no join
    # fabrication, no Python
    "r4_changelog_rename": ["partial_agg", "no_python_udf",
                            "no_cartesian_blowup"],
}

# Each check sees (tree, full): `tree` is the FINAL post-AQE operator tree
# (codegen-fused ops carry a '*' prefix there); `full` is the whole explain
# output including the per-operator detail section (PushedFilters etc.).
CHECKS = {
    "pushed_filter": lambda t, f: "PushedFilters: [" in f and "PushedFilters: []" not in f,
    "pruned_schema": lambda t, f: all(
        len(m.split(",")) <= 8 for m in re.findall(r"ReadSchema: struct<([^>]*)>", f)
    ),
    "broadcast_join": lambda t, f: "BroadcastHashJoin" in t,
    "codegen": lambda t, f: "* " in t or "codegen id" in f,
    "partial_agg": lambda t, f: t.count("HashAggregate") >= 2,  # partial+final
    "single_sort_window": lambda t, f: "Window" in t and t.count("Sort") <= 2,
    "take_ordered": lambda t, f: "TakeOrderedAndProject" in t,
    "no_python_udf": lambda t, f: "BatchEvalPython" not in f and "ArrowEvalPython" not in f,
    "no_cartesian_blowup": lambda t, f: "CartesianProduct" not in t,
    "expand_one_scan": lambda t, f: "Expand" in t
    and len(re.findall(r"Scan parquet", t)) == 1,
    "bucketed_window": lambda t, f: "__bucket" in f and "Window" in t,
    "no_exchange": lambda t, f: "Exchange" not in t,
    "semi_anti_join": lambda t, f: "LeftSemi" in t and "LeftAnti" in t,
    "window_group_limit": lambda t, f: "WindowGroupLimit" in t or "WindowGroupLimit" in f,
    # Arrow-batched kernels only: MapInArrow (zero-copy buffer crossing;
    # MapInPandas accepted for any remaining pandas-form kernel) present —
    # the deliberate dense-linear-algebra escape hatch — and row-at-a-time
    # Python absent
    "arrow_kernel": lambda t, f: ("MapInArrow" in f or "MapInPandas" in f)
    and "BatchEvalPython" not in f,
    # every Window node must sit ON TOP of an aggregate (explain prints
    # parents above children, so an agg must appear BELOW the deepest
    # Window line): the whitelisted global windows run over post-agg
    # frames whose cardinality is data-volume-independent (days/bins) —
    # this gate fails if an edit moves a global sort onto raw rows
    "global_window_post_agg": lambda t, f: _window_on_agg(t),
}


def _window_on_agg(tree: str) -> bool:
    lines = tree.splitlines()
    win = [i for i, l in enumerate(lines) if "Window" in l]
    if not win:
        # no Window node (e6/a24 currently compute their CDFs without
        # one): vacuously safe — the gate exists so that a FUTURE window
        # can only appear on top of an aggregate
        return True
    return any("HashAggregate" in l for l in lines[max(win):])


def _final_tree(plan: str) -> str:
    """The final operator tree: up to the echoed initial plan (AQE) or the
    operator-detail section, whichever comes first."""
    tree = plan.split("== Initial Plan ==")[0]
    m = re.search(r"^\(\d+\) ", tree, re.M)
    return tree[: m.start()] if m else tree


# per-run ids of a printed plan, renumbered by first appearance (group 2)
_RUN_IDS = [
    re.compile(r"(#)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(codegen id : )(\d+)"),
    re.compile(r"(QueryStage\nOutput \[\d+\]: [^\n]*\nArguments: )(\d+)"),
]
# per-run values of a printed plan -> placeholder
_RUN_VALUES = [
    (re.compile(r"Statistics\(sizeInBytes=[^)]*\)"), "Statistics(…)"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/([\w.-]*?)[a-z0-9_]{8}/"), r"<tmp>/\1…/"),
    (re.compile(r"\bpart-\d+-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "part-<file>"),
    (re.compile(r"\b([a-z]+)-[0-9a-f]{12}\b"), r"\1-<id>"),
]


def _stable(plan: str) -> str:
    """``plan`` as written to PLANS.md: the same for the same plan in any
    session (:data:`_RUN_IDS` renumbered, :data:`_RUN_VALUES` replaced)."""
    for pattern in _RUN_IDS:
        ids: dict[str, int] = {}
        plan = pattern.sub(
            lambda m: m.group(1) + str(ids.setdefault(m.group(2), len(ids) + 1)), plan
        )
    for pattern, placeholder in _RUN_VALUES:
        plan = pattern.sub(placeholder, plan)
    return plan


def main() -> None:
    spark = get_spark("explain-report", master="local[4]")
    reg = registry()
    lines = [
        "# PLANS — physical-plan evidence (auto-generated by tools/explain_report.py)",
        "",
        f"Scale factor dir: `{SF_DIR}`. Each section lists the properties asserted",
        "for that query's physical plan, then the plan itself. Regenerate after",
        "plan-affecting changes; CI-style gate: every assertion must hold.",
        "",
    ]
    failures = []
    for name, props in PROBES.items():
        df = reg[name].fn(spark, SF_DIR)
        df.collect()  # execute THIS plan so AQE finalizes + codegen ids annotate
        plan = spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        tree = _final_tree(plan)
        verdicts = []
        for prop in props:
            ok = CHECKS[prop](tree, plan)
            verdicts.append(f"{'✅' if ok else '❌'} {prop}")
            if not ok:
                failures.append(f"{name}: {prop}")
        lines += [f"## {name}", "", " · ".join(verdicts), "", "```", _stable(plan).strip(), "```", ""]

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    if failures:
        print("FAILED properties:")
        for f_ in failures:
            print(" ", f_)
        sys.exit(1)
    print(f"all {sum(len(v) for v in PROBES.values())} plan properties hold")


if __name__ == "__main__":
    main()
