"""Physical-plan audit over the whole query registry.

Prints one line per batch query: exchange count, normalized plan md5
(``profile_query.plan_md5``) and red-flag operators (CartesianProduct,
BatchEvalPython outside the UDF surface, unexpected
SortMergeJoin/BroadcastNestedLoopJoin); then one ``moved <name> <old md5>
-> <new md5>`` line per query whose md5 differs from the committed plan
record ``tools/plan_baseline.json``, and their count:

    python tools/audit_plans.py [sf_dir]

``--write-baseline`` rewrites the record, one ``{"exchanges", "md5",
"round"}`` entry per query. ``round`` is kept while the md5 is unchanged;
a moved plan gets the newest ``CORRECTNESS_r*.json`` round + 1, the first
driver round that can see it, which fronts the query in the driver
rotation (``__spark_entry__.rotation``) until that round checks it. Any
change that moves a plan runs it.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import correctness_records  # noqa: E402
from data_engineer_capstone_spark.plans import get_queries  # noqa: E402
from data_engineer_capstone_spark.session import get_spark  # noqa: E402
from profile_query import plan_md5  # noqa: E402

# Queries where a normally-suspicious operator is the intended plan.
EXPECTED = {
    # round-2 broadcast-hint audit: per-part min-cost agg (Q2) and the
    # qualifying-supplier semi join (Q20) scale with part/supplier, so the
    # forced hints were dropped; the static plan is SMJ (agg output stats
    # unknown) and AQE converts to broadcast at runtime while it fits
    "q183_tpch_q2_min_cost_supplier": {"SortMergeJoin"},
    "q198_tpch_q20_promo_suppliers": {"SortMergeJoin"},
    # slim band join + candidate semi/fetch joins: post-explode/post-agg
    # stats are unknown, static plan is keyed SMJ, AQE broadcasts at
    # runtime while small — at corpus scale keyed SMJ IS the plan
    "q92_minhash_lsh_dedup": {"SortMergeJoin"},
    # one-row total (n_tot / count) cross-joined as broadcast: cheapest
    # "every row vs one scalar" plan (same class as q121/q141)
    "q218_equi_depth_histogram_distributed": {"BroadcastNestedLoopJoin"},
    "q220_unigram_surprisal": {"BroadcastNestedLoopJoin"},
    "q227_domain_mix_sample": {"BroadcastNestedLoopJoin"},  # 1-row min_total scalar
    "q244_vocab_coverage": {"BroadcastNestedLoopJoin"},  # 1-row corpus-total scalar
    "q247_winsorize": {"BroadcastNestedLoopJoin"},  # 1-row n / cut-point scalars
    "q249_winsorize_approx": {"BroadcastNestedLoopJoin"},  # same, sketch cuts
    "q255_winsorize_sketch_exhaustive": {"BroadcastNestedLoopJoin"},  # same
    "q271_weighted_median": {"BroadcastNestedLoopJoin"},  # 1-row total_w scalar
    "q362_average_precision": {"BroadcastNestedLoopJoin"},  # 1-row (n, n_pos) scalar
    # declared bounded-n exact baseline (q94/q95 class): full pair space
    # over the 500-vector embeddings table; at corpus scale the same vote
    # runs over q96/q106 ANN candidate lists (docstring contract)
    "q372_label_noise_knn": {"BroadcastNestedLoopJoin"},
    # three 1-row summary aggregates (labels, forest, components) crossed
    # into the single-row report — all broadcast scalars
    "q374_boruvka_round": {"BroadcastNestedLoopJoin"},
    # 1-row total-votes / leftover-seats scalars onto the 25-row nation table
    "q375_apportionment": {"BroadcastNestedLoopJoin"},
    # 1-row localization accounting (total/scanned leaves, total/diverged
    # mids) crossed onto the diverged-leaf rows; the version-compare
    # FULL OUTER digest joins cannot broadcast by definition and run
    # keyed SMJ on leaf/mid — O(keys/256) rows, the right 100 TB plan
    "q376_merkle_range_diff": {"BroadcastNestedLoopJoin", "SortMergeJoin"},
    # revenue-agg⋈supplier is a keyed fact join whose build side is a
    # post-aggregate (stats unknown → static SMJ; AQE broadcasts at test
    # scale, and at 100 TB supplier-scale SMJ IS the plan — q363 argument)
    "q379_market_concentration": {"SortMergeJoin"},
    # step-report scalars: four 1-row aggregates chained by broadcast
    "q377_constrained_funnel": {"BroadcastNestedLoopJoin"},
    # sketch scalars (theta, estimators, exact counts) — every input is a
    # 1-row aggregate or a 256-row sketch
    "q380_kmv_theta_anotb": {"BroadcastNestedLoopJoin"},
    # 1-row reached/max-dist scalar crossed onto the TakeOrdered-20 report
    "q389_bellman_ford_sssp": {"BroadcastNestedLoopJoin"},
    # 4-row threshold table + 1-row n scalar crossed onto the bounded
    # lateness-CDF table
    "q392_watermark_lag_audit": {"BroadcastNestedLoopJoin"},
    # 1-row bin-bounds scalar + the O(bins²) interval-average table's
    # i<=k / i<=j<=k range joins — all on the bounded 20-bin support
    "q395_isotonic_calibration": {"BroadcastNestedLoopJoin"},
    # 1-row rank total + good/bad totals + IV scalar onto the 10-bin table
    "q396_woe_information_value": {"BroadcastNestedLoopJoin"},
    # 1-row moved/total scalar crossed onto the 8-row per-node report
    "q398_consistent_hashing": {"BroadcastNestedLoopJoin"},
    # 1-row (n, tot) scalar + 10-row decile table onto the cumulative axis
    "q403_lorenz_curve": {"BroadcastNestedLoopJoin"},
    # 9-row decile table broadcast onto the ranked outcomes (q327 class)
    "q404_quantile_treatment_effects": {"BroadcastNestedLoopJoin"},
    # the restatement diff self-joins the two knowledge cutoffs' picks on
    # the key — post-checkpoint stats unknown → static SMJ; at a
    # billion-key dim the keyed SMJ IS the plan (q381 argument)
    "q405_bitemporal_asof": {"SortMergeJoin"},
    # 1-row day-bounds scalar crossed onto the bounded type spine
    "q406_backfill_plan": {"BroadcastNestedLoopJoin"},
    # lineitem⋈month-filtered-orders is a fact-fact keyed join (filtered
    # stats unknown → static SMJ; AQE broadcasts at test scale — q363)
    "q407_price_volume_mix": {"SortMergeJoin"},
    # 1-row split/total scalars onto the bounded bin table
    "q409_covariate_shift_ess": {"BroadcastNestedLoopJoin"},
    # 1-row ECE scalar crossed onto the ≤10-bin reliability table
    "q411_expected_calibration_error": {"BroadcastNestedLoopJoin"},
    # 1-row day-bounds scalar for the spine (q384/q409 class); the spine
    # left join and the 5-row tot⋈bt join key on the checkpointed bounded
    # types×days tables (post-checkpoint stats unknown → static SMJ —
    # q385 class, O(types·days) rows at any SF)
    "q412_seasonal_strength": {"BroadcastNestedLoopJoin", "SortMergeJoin"},
    # 1-row n_users scalar + the 4-row percentile table joined on a
    # computed-rank expression (q327/q404 class)
    "q410_nested_percentiles": {"BroadcastNestedLoopJoin"},
    # 1-row day-bounds scalar for the spine; the 5 lag self-joins key on
    # the expression day+k over the bounded types×days series (q385 class)
    "q408_ljung_box_portmanteau": {"BroadcastNestedLoopJoin", "SortMergeJoin"},
    # declared bounded-n exact baseline (q94/q95/q372 class): full pair
    # space over the 500-vector embeddings table; at corpus scale the
    # reciprocity filter runs over q96/q106 ANN candidate lists. The
    # reciprocity SEMI-join keys on the checkpointed (i, nn) table —
    # post-checkpoint stats are unknown so the static plan is SMJ, and
    # at O(n) rows keyed SMJ is the right 100 TB shape anyway
    "q381_mutual_nn_pairs": {"BroadcastNestedLoopJoin", "SortMergeJoin"},
    # 1-row day-split-point scalar broadcast onto the event stream
    "q384_hellinger_drift": {"BroadcastNestedLoopJoin"},
    # 1-row day-bounds scalar for the spine + the 7-row lag table crossed
    # onto the bounded types×days series (150 rows at any SF); the shifted
    # self-join keys on the expression day+lag over the same bounded table
    # (post-checkpoint stats unknown → static SMJ; input is O(types·days))
    "q385_lead_lag_xcorr": {"BroadcastNestedLoopJoin", "SortMergeJoin"},
    # 1-row exact-join-size scalar crossed with the 1-row sketch estimate
    "q382_cm_join_size": {"BroadcastNestedLoopJoin"},
    # lineitem⋈orders is a fact-fact keyed join (filtered-orders stats
    # unknown → static SMJ; AQE broadcasts at runtime while it fits, and at
    # 100 TB keyed SMJ IS the right plan — the q92 argument)
    "q363_ndcg_popularity": {"SortMergeJoin"},
    # supply⋈demand cumulative-interval overlap is a keyed equi-join on
    # partkey whose sides are window outputs (stats unknown → static SMJ);
    # per-part output is LINEAR by the monotone-chain merge argument, and
    # at 100 TB the co-partitioned keyed SMJ IS the plan
    "q364_fifo_allocation": {"SortMergeJoin"},
    # 1-row corpus-total scalar broadcast onto the cumulative axis
    "q365_systematic_pps_sample": {"BroadcastNestedLoopJoin"},
    # 1-row table-total scalar crossed onto the 25-cell contingency table
    # (all post-aggregate raking arithmetic is on the bounded cell table)
    "q369_raking_ipf": {"BroadcastNestedLoopJoin"},
    # 4-row fold-boundary table (derived from the 1-row min/max day
    # scalar) broadcast onto the O(days) per-day aggregate
    "q327_expanding_cv_splits": {"BroadcastNestedLoopJoin"},
    # 64-row register table × 1-row estimate/exact scalars
    "q331_hll_registers_deterministic": {"BroadcastNestedLoopJoin"},
    # 1-row n_baskets scalar; the basket-key pair self-join's post-filter
    # stats are unknown so the static plan is keyed SMJ — AQE broadcasts at
    # runtime while the frequent-item sub-basket fits, and at corpus scale
    # keyed SMJ IS the plan (the q92 argument)
    "q332_frequent_itemset_pairs": {
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
    },
    # 1-row edge/wedge/triangle count scalars crossed into the summary row;
    # wedge/close joins run off an eagerly-checkpointed oriented edge list
    # whose stats are unknown → static keyed SMJ, AQE re-plans at runtime
    "q335_triangle_count": {"BroadcastNestedLoopJoin", "SortMergeJoin"},
    # same oriented-edge wedge/close joins as q335 (checkpointed stats)
    "q336_clustering_coefficient": {"SortMergeJoin"},
    # 10-row centroid table broadcast-crossed against every vector — the
    # vec × |labels| candidate space IS a broadcast nested loop by design
    "q338_nearest_centroid_confusion": {"BroadcastNestedLoopJoin"},
    # grid-cell candidate join + CC rounds run off eagerly-checkpointed
    # inputs with unknown stats → static keyed SMJ, AQE re-plans at runtime
    "q339_dbscan_grid": {"SortMergeJoin"},
    "q274_percentile_normalize": {"BroadcastNestedLoopJoin"},  # 1-row n scalar
    "q258_pmi_collocations": {"BroadcastNestedLoopJoin"},  # 1-row bigram total
    "q259_shard_manifest": {"BroadcastNestedLoopJoin"},  # 1-row corpus total
    # 1-row max|w| renormalization scalars between power-iteration steps
    "q282_power_iteration": {"BroadcastNestedLoopJoin"},
    "q283_tfidf_topk": {"BroadcastNestedLoopJoin"},  # 1-row N_docs scalar
    "q289_key_skew_report": {"BroadcastNestedLoopJoin"},  # 1-row totals scalar
    "q307_abc_classification": {"BroadcastNestedLoopJoin"},  # 1-row total scalar
    "q310_gini_coefficient": {"BroadcastNestedLoopJoin"},  # 1-row totals scalar
    "q315_decayed_popularity": {"BroadcastNestedLoopJoin"},  # 1-row ref-date scalar
    # O(shards) broadcast token ring crossed against row positions — the
    # consistent-hash assignment IS a broadcast nested loop by design
    "q318_reshard_plan": {"BroadcastNestedLoopJoin"},
    "q320_trailing_leaderboard": {"BroadcastNestedLoopJoin"},  # 1-row max_day scalar
    "q321_blocking_recall_report": {"BroadcastNestedLoopJoin"},  # 1-row truth scalar
    # 1-row max-day and total-user scalars broadcast onto the duration rows
    "q346_kaplan_meier": {"BroadcastNestedLoopJoin"},
    # 1-row corpus-start-day scalar broadcast onto the event rows
    "q348_cuped_variance_reduction": {"BroadcastNestedLoopJoin"},
    # same d0 scalar + 1-row n_treated scalar crossed into the summary row
    "q349_caliper_matching": {"BroadcastNestedLoopJoin"},
    "q350_difference_in_differences": {"BroadcastNestedLoopJoin"},  # d0 scalar
    # d0 scalar + 1-row user-count scalar for the decile arithmetic
    "q353_uplift_deciles": {"BroadcastNestedLoopJoin"},
    # 1-row n/agree/pe scalars crossed into the kappa summary row
    "q360_cohens_kappa": {"BroadcastNestedLoopJoin"},
    # per-table 1-row purged × 1-row total count cross (share computation)
    "q295_cascade_purge_audit": {"BroadcastNestedLoopJoin"},
    # O(domains²) signature comparison: domain count is bounded by design
    # (q278 docstring); the corpus-scale stage is the keyed signature agg
    "q290_domain_minhash_overlap": {"BroadcastNestedLoopJoin"},
    # k broadcast centroids vs the vector stream — the map-side assignment
    # nested loop that makes k-means scale (same class as q167)
    "q250_kmeans_update_step": {"BroadcastNestedLoopJoin"},
    # brute-force cosine pair join is the declared exact baseline (q95
    # class); the min-neighbor left join is keyed SMJ until AQE converts.
    # Scale twin: q224 (hyperplane-LSH bucketed pair generation, keyed
    # equi-join — registered rows-only, recall-pinned in tests)
    "q219_semantic_dedup_onehop": {"BroadcastNestedLoopJoin", "SortMergeJoin"},
    # LSH bucket self-join + candidate vector re-fetch: keyed equi-joins,
    # post-mapInPandas stats unknown → static SMJ, AQE broadcasts if small;
    # the bucketing itself is the Arrow-batched mapInPandas projection
    "q224_semantic_dedup_lsh": {"SortMergeJoin", "ArrowEvalPython"},
    # pigeonhole block self-join on (block, value): keyed equi-join over
    # the O(n·(b+1)) slim block rows — SMJ is the at-scale plan
    "q225_simhash_pairs": {"SortMergeJoin"},
    "q23_full_outer": {"SortMergeJoin"},  # broadcast cannot do full outer
    # full outer of two LIMIT-100 candidate lists (RRF fuses bounded
    # retriever outputs by contract — O(top-N) rows regardless of corpus)
    "q325_rrf_fusion": {"SortMergeJoin"},
    "q235_ivm_delta_aggregate": {"SortMergeJoin"},  # full-outer merge of two O(groups) aggs
    "q293_minhash_merge_invariance": {"SortMergeJoin"},  # full-outer merge of two O(domains) sig tables

    "q26_range_join": {"BroadcastNestedLoopJoin"},  # theta join, bounded side
    "q27_cross_join": {"BroadcastNestedLoopJoin"},  # explicit cross join
    "q94_cosine_topk": {"BroadcastNestedLoopJoin"},  # brute-force baseline
    "q95_embedding_near_dup": {"BroadcastNestedLoopJoin"},  # same
    # two bounded brute-force rankings (q94 class) + the top-k overlap
    # join on post-window stats-unknown sides (static SMJ, AQE broadcasts)
    "q305_matryoshka_overlap": {"BroadcastNestedLoopJoin", "SortMergeJoin"},
    # bounded O(n²) pair baseline (q94 class, broadcast hint makes the pair
    # stage BHJ); the own/nearest per-vector aggregates join post-checkpoint
    # with unknown stats → static SMJ, AQE broadcasts at runtime
    "q317_silhouette_score": {"SortMergeJoin"},
    # label-propagation joins: labels = one row per doc, not broadcastable
    # at scale; post-localCheckpoint stats are unknown anyway → SMJ is right
    "q108_near_dup_clusters": {"SortMergeJoin"},
    "q223_near_dup_clusters_star": {"SortMergeJoin"},  # same class as q108
    "q234_entity_resolution": {"SortMergeJoin"},  # same class (CC labels join)
    "q238_cluster_keep_best": {"SortMergeJoin"},  # same class (q108 CC labels join)
    "q268_leakage_safe_split": {"SortMergeJoin"},  # same class (CC labels join)
    # over the CSR broadcast budget (common_neighbor_topk's fallback) the
    # wedges come from the undirected edge list self-joined on the shared
    # endpoint — both sides are the same O(E) relation, neither broadcasts
    # at graph scale; keyed SMJ (or AQE shuffled-hash) is the intended
    # plan. Under the budget the plan is Range → MapInPandas → TakeOrdered
    "q242_common_neighbors": {"SortMergeJoin"},
    "q113_curation_pipeline": {"SortMergeJoin"},  # same (components stage)
    "q114_incremental_dedup": {"SortMergeJoin"},  # same + corpus anti-join
    "q116_corpus_report": {"SortMergeJoin"},  # same (curation components stage)
    # scalar-subquery comparison: the avg is a 1-row broadcast → BNLJ is
    # the cheapest possible plan for "compare every row to one scalar"
    "q121_antijoin_scalar_avg": {"BroadcastNestedLoopJoin"},
    "q141_share_of_total": {"BroadcastNestedLoopJoin"},  # same 1-row total
    "q163_chi_square": {"BroadcastNestedLoopJoin"},  # 1-row grand total
    # k-centroid broadcast against every vector IS the k-means plan
    "q167_kmeans_assign_step": {"BroadcastNestedLoopJoin"},
    "q168_bm25": {"BroadcastNestedLoopJoin"},  # 1-row corpus stats
    # dim-sized skyline: theta anti-join IS the semantic reference; the
    # sort-based O(n log n) formulation is the fact-scale path (docstring)
    "q172_pareto_frontier": {"BroadcastNestedLoopJoin"},
    # full outer diff of two same-sized snapshots: neither side broadcasts
    "q128_table_diff": {"SortMergeJoin"},
    # 25-row dim fuzzy self-join: broadcast nested loop IS the right plan;
    # at corpus scale the blocker becomes an equi-join key (see docstring)
    "q131_fuzzy_levenshtein_join": {"BroadcastNestedLoopJoin"},
    # Q21 shape: the semi and anti sides are full-size lineitem — neither
    # broadcasts at scale, so orderkey-keyed SMJ is the intended plan
    "q199_tpch_q21_waiting_suppliers": {"SortMergeJoin"},
    # PageRank joins O(E) edges to O(V) ranks and O(V) contribs to O(V)
    # degrees each round — none broadcast at graph scale; keyed SMJ is the
    # canonical power-iteration plan
    "q200_pagerank_two_rounds": {"SortMergeJoin"},
    # same power-iteration joins as q200, seed-restricted teleport
    "q342_personalized_pagerank": {"SortMergeJoin"},
    # composes q92's band-keyed SMJ stage (post-explode stats unknown) and
    # q95's declared bounded brute-force cosine baseline (BNLJ)
    "q344_dedup_signal_agreement": {
        "BroadcastNestedLoopJoin",
        "SortMergeJoin",
    },
    # edge-edge wedge closure: both sides are the O(E) edge list
    "q201_triangle_count": {"SortMergeJoin"},
    # global max(ts) is a 1-row broadcast onto per-user RFM rows
    "q205_rfm_segments": {"BroadcastNestedLoopJoin"},
    "q103_udf_scalar_pandas": {"ArrowEvalPython"},  # the UDF surface itself
    "q104_udaf_grouped_agg": {"AggregateInPandas"},
    "q105_udtf_lateral": {"BatchEvalPython"},
}
MARKERS = [
    "CartesianProduct",
    "SortMergeJoin",
    "BatchEvalPython",
    "ArrowEvalPython",
    "AggregateInPandas",
    "BroadcastNestedLoopJoin",
]
STREAMING = {"q80", "q81", "q82", "q83", "q84", "q85"}

# Queries ALLOWED to run a partitionless (single-task) window: only those
# whose docstring declares the exact-global contract and registers a
# distributed twin. Everything else funneling a table through one window
# partition is a scale bug (round-1 finding #3).
GLOBAL_WINDOW_OK = {
    "q210_equi_depth_histogram",  # exact-contract twin of distributed q218
    # global windows over PROVABLY BOUNDED pre-aggregated inputs (the raw
    # table is reduced by a hash aggregate first; docstrings state the
    # bound): 25 (region,nation) rows; O(weeks) rows; lookup-dim ids in
    # the q70-q72 pipeline (worker, the fact-scale table, uses
    # fact_scale=True partition-offset ids)
    "q174_contribution",
    "q175_new_vs_returning",
    "q260_mom_revenue_growth",  # O(months) rows after the hash aggregate
    "q298_cusum_changepoint",  # O(days) rows after the hash aggregate
    "q306_slo_burn_rate",  # O(minutes) rows after the hash aggregate
    "q308_neyman_allocation",  # O(strata) rows after the hash aggregate
    "q309_ks_two_sample",  # bounded cent-quantized support after the agg
    "q269_session_depth_bounce",  # share window over O(distinct depths) agg
    "q273_benford_check",  # share window over the 9-digit aggregate
    "q72_time_fact_accumulation",
    "q73_dq_checks",
    "q325_rrf_fusion",  # rank window over a TakeOrdered LIMIT-100 list
    "q334_skyline_pareto",  # suffix-min over the O(distinct p_size) agg (~50 rows)
    "q346_kaplan_meier",  # cumulative windows over O(distinct durations) ≤ day span
    "q359_wasserstein_drift",  # cumulative windows over the bounded cent support (q309 class)
    "q363_ndcg_popularity",  # position window over the TakeOrdered LIMIT-10 list (q325 class)
    "q370_rank_biased_overlap",  # rank windows over two TakeOrdered LIMIT-50 lists (q325 class)
    "q375_apportionment",  # remainder rank over 25 nations; D'Hondt rank over the bounded 25×1000 quotient table
    "q388_hits_hubs_authorities",  # rank over the TakeOrdered LIMIT-15 lists (q325 class)
    "q395_isotonic_calibration",  # prefix sums over the bounded 20-bin table (q334 class)
    "q404_quantile_treatment_effects",  # offset window over the 2-row group table
}


def global_window_lines(plan: str) -> list[str]:
    """Window operator lines with NO partition spec. The executed-plan
    string renders `Window [exprs], [partitionCols], [orderCols]`, where
    either trailing group may be absent: two groups → partitioned+ordered;
    one group → partitioned-only (bare cols) OR global-ordered (cols carry
    ASC/DESC); zero groups → global-unordered. Flag the global forms."""
    out = []
    for ln in plan.splitlines():
        if "windowspecdefinition" not in ln or "Window" not in ln:
            continue
        n = ln.count("], [")
        tail = ln.rsplit("], [", 1)[-1] if n else ""
        if n == 0 or (n == 1 and (" ASC" in tail or " DESC" in tail)):
            out.append(ln.strip()[:120])
    return out


def audit(spark, sf: str):
    """Yield (name, exchange_count, flags, plan_md5) for every batch query's
    static executed plan. Shared by the CLI below and the plan-regression
    pytest (tests/test_maintenance.py vs tools/plan_baseline.json)."""
    for name, fn in sorted(get_queries().items()):
        if name.split("_")[0] in STREAMING:
            continue
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        found = {m for m in MARKERS if m in plan}
        unexpected = found - EXPECTED.get(name, set())
        gw = [] if name in GLOBAL_WINDOW_OK else global_window_lines(plan)
        flags = sorted(unexpected) + (["GLOBAL-WINDOW"] if gw else [])
        yield name, plan.count("Exchange"), flags, plan_md5(df)


BASELINE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "plan_baseline.json")


def write_record(record: dict) -> None:
    """One line per query, so a moved plan is a one-line diff."""
    lines = [f" {json.dumps(k)}: {json.dumps(v, sort_keys=True)}"
             for k, v in sorted(record.items())]
    with open(BASELINE_PATH, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    write_baseline = "--write-baseline" in sys.argv
    sf = args[0] if args else "/root/testdata/sf0.01"
    # pinned width: plans that size from defaultParallelism or the shuffle
    # width (q242's task count, dedup's spread, sizing's floor) must hash
    # the same on every host
    spark = get_spark(app_name="plan-audit", master="local[8]",
                      shuffle_partitions=8)
    with open(BASELINE_PATH) as f:
        baseline = json.load(f)
    # a moved plan is first visible to the driver round after the newest
    # committed CORRECTNESS record
    next_round = max(correctness_records(), default=0) + 1
    bad, record, moved = 0, {}, []
    for name, exch, flags, md5 in audit(spark, sf):
        old = baseline.get(name, {})
        if old.get("md5") == md5:
            rnd = old["round"]
        else:
            rnd = next_round
            moved.append(f"moved {name} {old.get('md5', '-')} -> {md5}")
        record[name] = {"exchanges": exch, "md5": md5, "round": rnd}
        status = "UNEXPECTED " + " ".join(flags) if flags else "ok"
        print(f"{name:35s} exch={exch:2d} {md5} {status}")
        bad += bool(flags)
    for line in moved:
        print(line)
    print(f"{len(moved)} queries whose plan md5 moved")
    if write_baseline:
        write_record(record)
        print(f"baseline written: {BASELINE_PATH} ({len(record)} queries)")
    print(f"\n{bad} queries with unexpected operators")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
