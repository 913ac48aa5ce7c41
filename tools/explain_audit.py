"""Plan audit: assert the efficiency properties the engine claims.

Checks, per query, that the physical plan has the shape a 100 TB run
needs — filters pushed to the scan, pruned read schemas, broadcast
joins on dimensions, TakeOrderedAndProject for top-k, no
BroadcastNestedLoopJoin where a hash join is expected. Exits non-zero
if any expectation fails, so it can gate commits like a test.

The order primitives (operators/order.py) plan a small input as one
unkeyed window; the audit sets their size threshold below zero so every
query is planned in the two-phase regime a 100 TB input takes.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pipeline_dataengineer_spark.contract import QUERIES
from pipeline_dataengineer_spark.operators import order
from pipeline_dataengineer_spark.session import get_spark


def plan_of(spark, name: str, sf_dir: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, sf_dir).explain("formatted")
    return buf.getvalue()


# query -> (must_contain, must_not_contain)
EXPECTATIONS: dict[str, tuple[list[str], list[str]]] = {
    "q_filter_pred": (["PushedFilters: [IsNotNull(l_discount)"], []),
    "q_scan_project": (
        ["ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"],
        [],
    ),
    "q_broadcast_join": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "q_inner_join": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    "q_anti_join": (["LeftAnti"], ["BroadcastNestedLoopJoin"]),
    "q_sort_limit": (["TakeOrderedAndProject"], []),
    "q_range_join": ([], ["BroadcastNestedLoopJoin"]),
    "q_agg_group": (["HashAggregate"], []),
    "q_dedup_lastwins": (["Window"], []),
    # round 11: token-hash gram keys — the NGram string-gram UDF
    # (which Catalyst evaluated twice per side via the inferred
    # Generate filter) must not return; duplicated-gram detection
    # stays a partial-aggregable count + LeftSemi join back.
    "q_dup_spans": (["LeftSemi", "xxhash64"], ["UDF("]),
    "q_salted_agg": (["HashAggregate"], []),
    "q_tpch_q5_shape": (["BroadcastHashJoin"], ["CartesianProduct"]),
    # deterministic sample must stay a narrow filter riding the scan:
    # no shuffle, and the bucket predicate must not block pushdown of
    # the scan's column pruning.
    "q_sample_det": (
        ["ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"],
        ["Exchange"],
    ),
    "q_train_split": ([], ["Exchange"]),
    # TF-IDF: the corpus-size scalar must arrive by broadcast, never a
    # cartesian; document frequency must be a partial-aggregable
    # HashAggregate joined back on term — a Window over `term` has no
    # map-side combine and funnels every stopword row into one task.
    "q_tfidf": (
        ["BroadcastNestedLoopJoin", "HashAggregate"],
        ["CartesianProduct", "Window"],
    ),
    # corpus clean: lang/token/quality filters run in the scan stage
    # (before the dedup window's exchange) — the Filter must sit below
    # the one Exchange in the tree, which formatted-explain renders as
    # the Exchange appearing before the Filter line.
    "q_corpus_clean": (["Exchange", "PushedFilters: [In(lang"], []),
    "q_histogram": (["HashAggregate"], ["Window"]),
    # Q9: the p_name LIKE filter must reach the part scan; nation is
    # broadcast; no cartesian anywhere in the 5-way star.
    "q_tpch_q9_shape": (
        ["PushedFilters: [IsNotNull(p_name)", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # Q16: NOT IN decorrelates to a broadcast anti hash join, and the
    # size IN-list is pushed to the part scan.
    "q_tpch_q16_shape": (
        ["LeftAnti", "PushedFilters: [IsNotNull(p_brand)"],
        ["BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # Q21: double-correlated EXISTS/NOT EXISTS becomes semi+anti hash
    # self-joins on l_orderkey (equi key with non-equi residual) —
    # never a nested-loop join.
    "q_tpch_q21_shape": (
        ["LeftSemi", "LeftAnti"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # fuzzy join: FastSS blocking must yield an EQUI hash join on the
    # variant key — a nested-loop would mean the blocking collapsed
    # to the O(n^2) pair space it exists to avoid.
    "q_fuzzy_join": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # k-NN join: the query side is an explicit broadcast cross join
    # (BNLJ is the INTENDED strategy); the corpus must never reach a
    # CartesianProduct (both sides shuffled).
    "q_knn_join": (["BroadcastNestedLoopJoin"], ["CartesianProduct"]),
    # interval join: equi key + range residual -> hash/merge join.
    "q_interval_join": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # MERGE upsert: the not-matched leg is an anti hash join.
    "q_upsert": (["LeftAnti"], ["BroadcastNestedLoopJoin"]),
    # chunking is a narrow per-row fan-out: the only Exchange allowed
    # is scale_out's input widening — nothing downstream of the
    # explode may shuffle, and no join/window/agg appears at all.
    "q_chunk_docs": ([], ["Window", "SortMergeJoin", "HashAggregate"]),
    # boilerplate strike: docfreq is a partial-aggregable
    # HashAggregate; the strike is an anti HASH join (the only BNLJ
    # in the tree is the intended 1-row corpus-size scalar broadcast,
    # same shape as q_tfidf); never a CartesianProduct.
    "q_boilerplate_segments": (
        ["HashAggregate", "LeftAnti"],
        ["CartesianProduct"],
    ),
    # posting lists: one wide stage (HashAggregate w/ partial
    # combine), no window, no join.
    "q_inverted_index": (["HashAggregate"], ["Window", "SortMergeJoin"]),
    # funnel: one aggregation pass, NO self-joins per step.
    "q_funnel": (["HashAggregate"], ["Join"]),
    # perplexity scoring: the (bounded) LM table must arrive at the
    # corpus by broadcast hash join — the corpus is never sorted or
    # shuffled for the scoring join; the per-doc mean is a
    # partial-aggregable HashAggregate.
    "q_ngram_lm_ppl": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "Window"],
    ),
    # MAD outliers: both group-sized aggregates (median, MAD) come
    # back by broadcast hash join — the fact side must never sort or
    # shuffle for them.
    "q_mad_outliers": (
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "Window"],
    ),
    # URL canonicalization is ONE fused projection riding the scan:
    # no shuffle, no join, no aggregate anywhere in the tree.
    "q_url_normalize": ([], ["Exchange", "Join", "HashAggregate"]),
    # incremental agg maintenance: every stage is a map-side-combinable
    # HashAggregate (partial_* then merge); no window, no sort-merge.
    "q_incremental_agg": (["HashAggregate"], ["Window", "SortMergeJoin"]),
    # per-domain stats: one combinable aggregate, no join.
    "q_domain_stats": (["HashAggregate"], ["Join", "Window"]),
    # digest-pruned semi join: the bucket prefilter must be a
    # BROADCAST semi join (map-side, before lineitem's exchange);
    # nothing may degrade to a nested loop.
    "q_prune_semi_join": (["BroadcastHashJoin"], ["BroadcastNestedLoopJoin"]),
    # LATERAL top-n must decorrelate to a ranked window, not execute
    # as a per-row nested-loop subquery.
    "q_lateral_topn": (["Window"], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # date spine rides sequence(): no per-day driver loop, and the
    # probe-side daily aggregate stays a combinable HashAggregate.
    "q_date_spine": (["HashAggregate"], []),
    # array set-ops are pure JVM kernels riding the scan: no explode
    # (Generate), no shuffle, no join.
    "q_array_setops": ([], ["Exchange", "Generate", "Join"]),
    # exact heavy hitters: one combinable HashAggregate over the item;
    # the 1-row total arrives by broadcast (BNLJ on a single row is
    # the intended scalar-broadcast shape, same as q_tfidf) — the
    # fact side must never sort-merge.
    "q_heavy_hitters": (["HashAggregate"], ["SortMergeJoin"]),
    # sketch trios: build/merge are partial-aggregable HashAggregates;
    # nothing may sort-merge (state rows are dimension-sized).
    "q_approx_topk": (["HashAggregate"], ["SortMergeJoin"]),
    "q_kll_quantiles": (["HashAggregate"], ["SortMergeJoin"]),
    # semi interval join: equi key + range residual -> hash/merge
    # join keeping only left rows; never a nested loop.
    "q_interval_join_semi": (
        ["LeftSemi"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # pseudonymization is one fused codegen projection riding the
    # scan: no shuffle, no join, no aggregate.
    "q_pseudonymize": ([], ["Exchange", "Join", "HashAggregate"]),
    # weighted sampling with an explicit ref normalizer is a narrow
    # filter riding the scan — not even the mean's scalar broadcast.
    "q_weighted_sample": ([], ["Exchange", "Join", "HashAggregate"]),
    # event sequences: ONE exchange (the user window), no join.
    "q_event_sequences": (["Window"], ["Join"]),
    # overlap join: exploded-tag blocking must stay an EQUI hash join
    # — a nested loop would mean the blocking collapsed to the
    # cross join it exists to avoid.
    "q_array_overlap_join": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # triangle closure is a LEFT SEMI hash join on the canonical edge
    # pair — never a nested loop over paths.
    "q_triangle_count": (["LeftSemi"], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # basket pairs come from ONE equi-join on the basket key; the
    # inequality is a residual, not a join condition.
    "q_co_occurrence": (["HashAggregate"], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # window-over-aggregate family: the window input is the AGGREGATE
    # (group-sized), so a HashAggregate must appear below the Window.
    "q_mom_growth": (["HashAggregate", "Window"], []),
    "q_topk_per_group": (["HashAggregate", "Window"], ["SortMergeJoin"]),
    "q_market_share": (["HashAggregate", "Window"], []),
    # spatial pairs meet on grid-cell equi keys; the distance
    # predicate is a residual — never a nested loop over points.
    "q_spatial_join": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # interval overlap meets on the bucket equi key, same rule.
    "q_interval_overlap": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # PIT lookup is an equi-join on the business key (residual range
    # predicate), not a range nested loop.
    "q_pit_lookup": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # lexicon weights are dictionary-sized: must broadcast; the
    # per-doc sum must be a partial-aggregable HashAggregate.
    "q_lexicon_score": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin"],
    ),
    # regression aggregates compile to one combinable agg pass.
    "q_regr_aggs": (["HashAggregate"], ["Window"]),
    # item-item cosine: pair generation is the basket equi-join, item
    # counts join back — never an all-pairs product.
    "q_item_similarity": (
        ["HashAggregate"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # feature scaling: stats are a combinable aggregate broadcast
    # back — NOT a window over the fact table.
    "q_scale_features": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["Window"],
    ),
    # rolling z-score is a row-bounded frame over the key window —
    # one Exchange on the key, no self-join.
    "q_rolling_zscore": (["Window"], ["SortMergeJoin"]),
    # skyline: class aggregate + class-sized window + broadcast join
    # back to facts — never a quadratic dominance join
    "q_skyline": (
        ["HashAggregate", "Window", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # IVM delta rule: every term joins against a delta side — all
    # broadcastable at batch scale, no full-table sort-merge
    "q_join_view_maintenance": (
        ["BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # grouped sequence recursions: ONE shuffle + Arrow grouped map
    "q_holt_linear": (["FlatMapGroupsInPandas"], ["SortMergeJoin"]),
    # CEP went pure JVM (split-gap offset arithmetic): no Python
    # workers anywhere in the plan anymore
    "q_cep_pattern": (
        ["ObjectHashAggregate"],
        ["SortMergeJoin", "FlatMapGroupsInPandas", "ArrowEvalPython"],
    ),
    # round-3 continuation, sixth batch
    # BM25: query vocab broadcast — corpus never sort-merge-joined
    # round 10: the query vocabulary is folded into the per-doc
    # aggregate as conditional counts — no term join at all anymore;
    # the only join left is the 1-row stats broadcast (BNLJ), and the
    # old tf/dfreq/doclen joins must not reappear
    "q_bm25": (["BroadcastNestedLoopJoin"], ["BroadcastHashJoin", "SortMergeJoin"]),
    # deterministic shuffle: the whole point is NO single-task window
    "q_shuffle_index": ([], ["Window"]),
    # bitmap distinct: imperative aggregate, no join anywhere
    "q_bitmap_distinct": (["SortAggregate"], ["SortMergeJoin"]),
    # interval→month explode + one combinable agg; no join, no window
    "q_time_weighted_avg": (["Generate"], ["SortMergeJoin", "Window"]),
    # per-doc-partitioned window is fine; no join
    "q_sentence_chunks": (["Window"], ["SortMergeJoin"]),
    # gopher gate rides the scan: NO exchange of any kind
    "q_gopher_filter": ([], ["Exchange"]),
    # int8 quantize: stats explode + broadcast arrays, no SMJ
    "q_int8_quantize": (["Generate"], ["SortMergeJoin"]),
    # round-3 continuation, seventh/eighth batches
    # global exact quantiles: distributed total order — no Window op
    "q_global_quantiles": ([], ["Window"]),
    # PSI: bins broadcast into both fact sides; the FULL OUTER of the
    # two <= n_bins count tables is a (tiny) sort-merge — full outer
    # cannot broadcast in Spark, so SMJ on bin-sized input is the
    # right plan. Assert only that no Window sneaks in.
    "q_psi_drift": (["BroadcastNestedLoopJoin"], ["Window"]),
    # phrase search: index cut then ONE group — no join of position
    # lists (the consecutive test is an array expression)
    "q_phrase_search": (["ObjectHashAggregate"], ["SortMergeJoin"]),
    # log-rank at-risk grid: descending cumulative window over the
    # union time grid (built by EXPLODE of the two literal group
    # labels — no grid join at all; the one BNLJ left is the final
    # 1-row totals compose, same sanctioned shape as q_cox_ph). The
    # quadratic grid x consumed(t2 < t) theta join is gone.
    "q_log_rank": (["Window", "Generate"], ["SortMergeJoin"]),
    # stream anti (batch parity): DIRECT LeftAnti on (key, interval
    # residual) — the left_outer+IS NULL derivation materialized every
    # matched pair and went 22x superlinear on the 10x tier (round-4)
    "q_interval_join_anti": (
        ["LeftAnti"],
        ["BroadcastNestedLoopJoin", "CartesianProduct", "LeftOuter"],
    ),
    # funnel stall times: one conditional-aggregate pass, no join
    "q_funnel_step_times": (["HashAggregate"], ["Join"]),
    # top paths: ordered-struct reassembly + count, no join
    "q_top_paths": (["ObjectHashAggregate", "TakeOrderedAndProject"], ["Join"]),
    # round-3 continuation, second half
    # haversine/hamming joins: grid/band equi-joins, never BNLJ
    "q_haversine_join": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    "q_hamming_neardup": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # PCA covariance: one Arrow pass + relational merge, no self-join
    # of the corpus (no SortMergeJoin anywhere in the plan)
    "q_pca_cov": (["MapInPandas"], ["SortMergeJoin", "CartesianProduct"]),
    # group sample: rank window runs over prefiltered survivors;
    # counts broadcast back (no SMJ)
    "q_group_sample": (["Window"], ["SortMergeJoin"]),
    # KMV build: two bounded aggregate stages, JVM-side only
    "q_kmv_distinct": (["HashAggregate"], ["MapInPandas", "ArrowEvalPython"]),
    # seasonal decompose: windows + a broadcast phase-mean join-back
    "q_seasonal_decompose": (["Window", "BroadcastHashJoin"], ["SortMergeJoin"]),
    # stats: cells-not-facts aggregates
    "q_mutual_info": (["HashAggregate"], ["Window"]),
    "q_cuped": (["BroadcastHashJoin"], []),
    "q_kaplan_meier": (["Window", "HashAggregate"], ["SortMergeJoin"]),
    "q_skew_report": (["HashAggregate"], ["Window"]),
    "q_pareto_share": (["Window"], ["SortMergeJoin"]),
    # IVF-PQ search: candidates come from a broadcast probe equi-join
    # onto the code table (BroadcastHashJoin, never sort-merge or an
    # unbounded cartesian), scoring is one Arrow stage of byte
    # gathers. The one BroadcastNestedLoopJoin in the plan is the
    # INTENTIONAL assignment cross join (corpus x broadcast centroid
    # constant) — bounded build side by construction, so it is not on
    # the deny list here.
    "q_ivfpq_exact": (
        ["BroadcastHashJoin", "ArrowEvalPython"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # Count-Min: ONE combinable HashAggregate builds the depth x width
    # table; the estimate probe joins by broadcast; never a window,
    # never a cartesian.
    "q_countmin": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["Window", "SortMergeJoin", "CartesianProduct"],
    ),
    # Bloom prune: the bitmap membership test is a plain Filter (no
    # join in the prune step) and the exact finishing semi join is a
    # broadcast hash join on the small key side.
    "q_bloom_prune": (
        ["LeftSemi", "BroadcastHashJoin"],
        ["SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # Exact Jaccard join: every join is an equi join (prefix-token
    # candidates + verification joins — SMJ acceptable at scale); the
    # only Window is the doc-local prefix cut. No pair may come from
    # a nested-loop/cartesian — that would mean prefix filtering
    # collapsed to all-pairs.
    "q_jaccard_join": (
        [],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # MMR: the upstream scoring is the INTENDED broadcast cross join
    # (query side broadcast, like q_knn_join); the top-k cut must use
    # WindowGroupLimit (rank pushdown); the greedy itself is one
    # FlatMapGroupsInPandas over bounded candidate groups.
    "q_mmr_rerank": (
        ["BroadcastNestedLoopJoin", "FlatMapGroupsInPandas", "WindowGroupLimit"],
        ["CartesianProduct"],
    ),
    # CV folds: the chunk table (distinct time units) joins back by
    # BROADCAST — the fact table never shuffles for the tag; the only
    # Window is the ntile over the dimension-sized unit table.
    "q_ts_folds": (
        ["BroadcastHashJoin", "Generate"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # rebalance: class counts broadcast back; the explode is a
    # Generate; never an SMJ on the fact side.
    "q_rebalance": (
        ["BroadcastHashJoin", "Generate", "Window"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # token budget: ONE window shuffle (per-stratum cumsum), no join
    # at all — the budget is a CASE projection.
    "q_token_budget": (
        ["Window"],
        ["BroadcastHashJoin", "SortMergeJoin", "Generate"],
    ),
    # CM join-size: two combinable sketch aggregates; the state-table
    # equi-join broadcasts; the final 1-row x 1-row cross is the
    # INTENDED BNLJ (like q_knn_join).
    "q_cm_join_size": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["SortMergeJoin", "CartesianProduct", "Window"],
    ),
    # Benford: one combinable 9-row aggregate; the 1-row total joins
    # back by broadcast; never a window or sort-merge.
    "q_benford": (
        ["HashAggregate"],
        ["Window", "SortMergeJoin", "CartesianProduct"],
    ),
    # TF-IDF cosine join: docfreq/dot are combinable HashAggregates
    # (same no-Window rule as q_tfidf); the corpus-size scalar is the
    # intended 1-row BNLJ; never a cartesian.
    "q_tfidf_cosine": (
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["Window", "CartesianProduct"],
    ),
    # k-anonymity: class sizes attach via ONE window pass on the QI
    # key — no self-join of the facts.
    "q_k_anonymize": (
        ["Window"],
        ["SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "q_anonymity_audit": (
        ["HashAggregate"],
        ["Window", "SortMergeJoin", "CartesianProduct"],
    ),
    # table diff: one keyed join, never a nested-loop shape.
    "q_table_diff": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # CUSUM: sanctioned grouped-map recursion — exactly the Arrow
    # grouped-map operator over one key shuffle.
    # readability: a pure fused projection riding the scan — no
    # shuffle at all, and only (doc_id, text) read.
    "q_readability": (
        ["ReadSchema: struct<doc_id:bigint,text:string>"],
        ["Exchange"],
    ),
    # point-in-polygon: the 3-row literal zone table arrives by
    # broadcast nested loop (theta condition — intended); the points
    # themselves never shuffle.
    "q_point_in_polygon": (
        ["BroadcastNestedLoopJoin"],
        # BroadcastExchange of the 3-row zone table is intended; what
        # must never appear is a shuffle of the points themselves.
        ["hashpartitioning", "rangepartitioning", "SortMergeJoin",
         "CartesianProduct"],
    ),
    # frequent sequences: one window sort shuffle, then a combinable
    # pattern-sized HashAggregate.
    "q_frequent_seq": (
        ["Window", "HashAggregate"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    # CCNet buckets: the bounded LM must arrive broadcast (corpus
    # never shuffles for scoring); the ntile window is the one
    # intended doc-scalar shuffle.
    "q_ppl_buckets": (
        ["BroadcastHashJoin", "Window"],
        ["CartesianProduct"],
    ),
    # OOV: vocab joins broadcast; per-doc counts partial-aggregate.
    "q_oov_rate": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "Window"],
    ),
    # Zipf: vocab cut is a TakeOrdered top-k, so the rank window only
    # ever sees top_k rows.
    "q_zipf": (["TakeOrderedAndProject", "HashAggregate"], ["Join"]),
    # intervals: one window pass builds islands; the aggregate is
    # combinable; never a self-join of the spans.
    "q_merge_intervals": (
        ["Window", "HashAggregate"],
        ["Join", "CartesianProduct"],
    ),
    # jaro: blocked equi self-join — the blocking must stay a hash
    # join, never a nested loop over all pairs.
    "q_jaro": (
        ["ArrowEvalPython"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # grouped-map recursions: the explicit key repartition must
    # survive as the ONE exchange (AQE must not re-coalesce it into
    # a serial single task — see timeseries._spread_by_key).
    "q_cusum_chart": (
        ["FlatMapGroupsInPandas", "REPARTITION_BY_NUM"],
        ["Window", "SortMergeJoin"],
    ),
    # netpbm decode: a pure map-side Arrow pass — no shuffle at all.
    "q_pnm": (["MapInPandas"], ["Exchange", "Join"]),
    # record linkage: blocking must stay an equi hash join; the 1:1
    # cut is two rank windows — never a nested loop over all pairs.
    # the corrective pre-scoring spread must survive AQE, and the
    # asNondeterministic flag must keep the kernel to ONE evaluation
    # (a duplicate-and-pushed copy below the exchange serialized the
    # whole scoring pass before the fix).
    "q_record_linkage": (
        ["ArrowEvalPython", "REPARTITION_BY_NUM", "Window"],
        ["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # hilbert: a linear chain of thin projections — the named-column
    # unrolling must not leave any join/shuffle, and whole-stage
    # codegen must cover it.
    # ("* Project" = the projection chain runs inside whole-stage
    # codegen — formatted explain marks codegen nodes with "*")
    "q_hilbert": (
        ["* Project"],
        ["Exchange", "Join", "Window"],
    ),
    # dataset card: two combinable aggregates + a broadcast of the
    # 1-row histogram; the only shuffles are aggregate exchanges.
    "q_dataset_card": (
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["SortMergeJoin", "CartesianProduct", "Window"],
    ),
    "q_asof_tolerance": (["Window"], ["Join"]),
    # FD audit: one combinable aggregate, violation-sized output.
    "q_fd_check": (["HashAggregate"], ["Window", "Join"]),
    # chat gating / RBO / media parsing: fused per-row passes — no
    # shuffle anywhere.
    "q_chat_validate": ([], ["Exchange", "Join", "HashAggregate"]),
    "q_rbo": ([], ["Exchange", "Join", "HashAggregate"]),
    "q_id3": (["MapInPandas"], ["Exchange", "Join"]),
    "q_pdf_text": (["MapInPandas"], ["Exchange", "Join"]),
    # per-group OLS: one combinable aggregate, nothing else.
    "q_grouped_ols": (["HashAggregate"], ["Window", "Join"]),
    # KN scoring: all three LM tables must arrive broadcast — the
    # corpus is never sort-merged for the scoring joins.
    "q_kn_ppl": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["SortMergeJoin", "Window", "CartesianProduct"],
    ),
    # calibration family: combinable bin aggregates; the only BNLJ is
    # the 1-row totals broadcast.
    "q_ece": (["HashAggregate"], ["SortMergeJoin", "CartesianProduct"]),
    "q_brier": (["HashAggregate"], ["SortMergeJoin", "Window"]),
    # Mann-Kendall: grouped-map with the key spread surviving AQE.
    "q_mann_kendall": (
        ["FlatMapGroupsInPandas", "REPARTITION_BY_NUM"],
        ["SortMergeJoin"],
    ),
    # median CI: one ranked-window pass then a combinable aggregate —
    # never a self-join of the facts.
    "q_median_ci": (["Window", "HashAggregate"], ["Join"]),
    # media parsing stays map-side.
    "q_tiff": (["MapInPandas"], ["Exchange", "Join"]),
    # rate-limit replay: grouped-map recursion with the key spread.
    "q_rate_limit_replay": (
        ["FlatMapGroupsInPandas", "REPARTITION_BY_NUM"],
        ["Window", "SortMergeJoin"],
    ),
    # ---- round 5 additions ----
    # string-key Count-Min: hash + bucket all JVM-side expressions
    "q_countmin_str": (["HashAggregate"], ["BatchEvalPython"]),
    # GLM final pass: one aggregate, no join/window in the plan
    "q_logistic_gd": (["HashAggregate"], ["Join", "Window"]),
    "q_quantile_reg": (["HashAggregate"], ["Join", "Window"]),
    "q_poisson_reg": (["HashAggregate"], ["Join", "Window"]),
    # Box-Cox grid: single aggregate then a 9-row explode — no join
    "q_boxcox": (["HashAggregate"], ["Join"]),
    # Page-Hinkley: pure windows, no Python, no join
    "q_page_hinkley": (["Window"], ["Join", "BatchEvalPython",
                                    "FlatMapGroupsInPandas"]),
    # SPRT: window + one aggregate, no Python
    "q_sprt": (["Window", "HashAggregate"],
               ["BatchEvalPython", "FlatMapGroupsInPandas"]),
    # Theil-Sen: grouped-map with the key spread (sanctioned shape)
    "q_theil_sen": (["FlatMapGroupsInPandas"], ["CartesianProduct"]),
    # Cox PH: cell windows + aggregates; the only join is the final
    # 1-row broadcast of loglik onto totals
    "q_cox_ph": (["Window", "BroadcastNestedLoopJoin"],
                 ["SortMergeJoin"]),
    # footer stats: metadata-only mapInPandas over the file list
    "q_rowgroup_stats": (["MapInPandas"], ["Window"]),
    # lossy IVF-PQ: broadcast probe join + Arrow scoring, top-k window
    "q_ivfpq_topk": (["ArrowEvalPython", "Window"],
                     ["CartesianProduct", "SortMergeJoin"]),
    # lift/gains: distributed two-phase index (range exchange +
    # mapInPandas counter; the indexed side is the pinned checkpoint,
    # so the only visible scan is the totals branch — pruned to the
    # single label column). Never a cartesian or a single-task
    # fact-sized sort.
    # round 10: the two-phase index attaches its local position via
    # monotonically_increasing_id bit-slices stored with the pinned
    # checkpoint — the MapInPandas counter pass is GONE and must not
    # come back (it round-tripped every row through Python).
    "q_lift_gains": (
        ["ReadSchema: struct<c_mktsegment:string>"],
        ["CartesianProduct", "MapInPandas"],
    ),
    # conformal: per-group rank window + broadcast band join; the
    # rank window is PARTITIONED (no global single-task window)
    "q_conformal": (["BroadcastHashJoin", "Window"],
                    ["CartesianProduct", "SortMergeJoin"]),
    # entropy-l: two cell-sized aggregates + a class-keyed window;
    # no joins over the facts, no Python
    "q_entropy_l_div": (["HashAggregate", "Window"],
                        ["Join", "BatchEvalPython"]),
    # Adamic-Adar: wedge self-equi-join + combinable pair agg + anti
    # hash join against the edge list — never a nested loop/cartesian
    "q_adamic_adar": (["HashAggregate", "LeftAnti"],
                      ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # isotonic: PAV in a grouped Arrow map — one shuffle on the key,
    # no join, no fact-sized window
    "q_isotonic": (["FlatMapGroupsInPandas"],
                   ["Join", "Window", "SortMergeJoin"]),
    # LOF: bucketed equi self-join for candidates (never a cartesian
    # or nested loop), id-partitioned rank windows, hash joins after
    "q_lof": (["Window", "HashAggregate"],
              ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # distributed eval tier (round-5 VERDICT item 3): the *_dist
    # twins must compute AUC/AP/ATT with NO unkeyed WindowExec —
    # the rank/scan arrives via the two-phase mapInPandas cumsum /
    # forward-fill over a pinned range sort
    "q_roc_auc_dist": (["MapInPandas", "HashAggregate"],
                       ["Window", "CartesianProduct"]),
    "q_avg_precision_dist": (["MapInPandas"],
                             ["Window", "CartesianProduct"]),
    "q_propensity_att_dist": (["MapInPandas", "HashAggregate"],
                              ["Window", "CartesianProduct"]),
    # grouped Gini ranks inside each segment: the window is KEYED
    "q_gini": (["Window", "HashAggregate"], ["CartesianProduct"]),
    # ungrouped Gini/Lorenz rank via the two-phase cumsum — no
    # unkeyed window anywhere; Lorenz's decile pick is a broadcast
    # hash join on the computed rank
    "q_gini_global": (["MapInPandas"], ["Window"]),
    "q_lorenz": (["MapInPandas", "BroadcastHashJoin"],
                 ["Window", "CartesianProduct", "SortMergeJoin"]),
    # JS divergence: one combinable hash agg over the facts; the
    # totals arrive via a 1-row broadcast, never a fact-sized join
    "q_js_divergence": (["HashAggregate"],
                        ["Window", "CartesianProduct", "SortMergeJoin"]),
    # concat-and-split packing: cumsum scan + sequence() explode
    "q_pack_chunks": (["MapInPandas", "Generate"], ["Window"]),
    "q_pack_greedy": (["MapInPandas"], ["Window", "Generate"]),
    # PCA projection: literal components -> ONE narrow map over the
    # scan, nothing else (the fit's Gram pass ran at build time)
    "q_pca_project": ([], ["Window", "Exchange", "Join"]),
    # spearman: distinct-value aggs + two hash joins back; the
    # default path's window is over the DISTINCT table only
    "q_spearman": (["HashAggregate"], ["CartesianProduct"]),
    "q_spearman_dist": (["MapInPandas", "HashAggregate"], ["Window"]),
    # kendall: counts are computed eagerly by inversion counting; the
    # returned row is a literal — no window, no join (q_kendall_dist
    # below is the same query)
    "q_kendall": (["Scan ExistingRDD"], ["Window", "Join"]),
    "q_mann_whitney_dist": (["MapInPandas", "HashAggregate"],
                            ["Window"]),
    # ks_test collects the scalar at build time (the returned frame
    # is a LocalTableScan), so the audit can only pin the absence of
    # a Window in what remains; the cumsum machinery's plan shape is
    # pinned by the other *_dist entries above
    "q_ks_test_dist": (["Scan ExistingRDD"], ["Window", "Exchange"]),
    # DPO best/worst: ONE combinable aggregate — struct-ordered
    # argmax plans as partial+final SortAggregate (Spark's exec for
    # struct-typed max; still map-side combinable) — no window, no
    # join over the facts
    "q_preference_pairs": (["SortAggregate"], ["Window", "Join"]),
    # dense pairs: group-keyed equi self-join (hash), never a
    # nested loop or cartesian
    "q_preference_all": (["BroadcastHashJoin"],
                         ["BroadcastNestedLoopJoin", "CartesianProduct",
                          "Window"]),
    # kappa: contingency hash aggs + cell-sized broadcast joins
    "q_cohen_kappa": (["HashAggregate"],
                      ["Window", "SortMergeJoin", "CartesianProduct"]),
    "q_fleiss_kappa": (["HashAggregate", "Generate"],
                       ["Window", "SortMergeJoin", "CartesianProduct"]),
    # Bradley-Terry: facts reduce to pair counts (hash aggs); the MM
    # runs on the collected items-bounded pair table, so the final
    # frame is a local scan
    "q_bradley_terry": (["Scan ExistingRDD"], ["Window"]),
    # Krippendorff alpha: two cell-sized hash aggs + a broadcast
    # semi-join restricting labels to pairable items
    "q_krippendorff": (["HashAggregate", "Generate"],
                       ["Window", "SortMergeJoin", "CartesianProduct"]),
    # distributed BH: two-phase index + running-min, no unkeyed window
    "q_benjamini_hochberg_dist": (["MapInPandas"], ["Window"]),
    # classification eval: one contingency hash agg + cell-sized
    # joins; never a window or a fact-sized sort join
    "q_confusion_matrix": (["HashAggregate"],
                           ["Window", "Join", "Generate"]),
    "q_classification_report": (["HashAggregate"],
                                ["Window", "SortMergeJoin",
                                 "CartesianProduct"]),
    # corpus BLEU: n-gram Generate + combinable gram-count aggs +
    # (row, n, gram)-keyed hash join — no UDF anywhere (no
    # ArrowEvalPython / BatchEvalPython), no window
    "q_bleu": (["Generate", "HashAggregate"],
               ["Window", "ArrowEvalPython", "BatchEvalPython",
                "CartesianProduct"]),
    # ROUGE-L: the LCS kernel is ONE Arrow map over the pairs —
    # no shuffle beyond the scan, no join, no window
    "q_rouge_l": (["MapInPandas"], ["Window", "Join", "Exchange"]),
    # W1 drift: fact hash agg to distinct values; the window runs
    # over THAT table only (ks_test's documented trade); the final
    # quotient divides an exact integer-weighted sum once
    "q_wasserstein": (["HashAggregate"],
                      ["SortMergeJoin", "CartesianProduct"]),
    # per-segment AUC: every window is KEYED by the segment
    "q_grouped_auc": (["Window", "HashAggregate"],
                      ["CartesianProduct", "Join"]),
    # negative sampling: probe equi-join on the pool index + anti
    # join for positives — never an anchor x pool nested loop
    # (round 10: same note as q_lift_gains — the index's Python
    # counter pass is gone, pinned absent)
    "q_sample_negatives": (["LeftAnti"],
                           ["BroadcastNestedLoopJoin",
                            "CartesianProduct", "MapInPandas"]),
    # effect sizes: ONE combinable aggregate (d/g), distinct-value
    # cumulative (Cliff's delta) — no fact-sized window or join
    "q_effect_size": (["HashAggregate"], ["Window", "Join"]),
    "q_cliffs_delta": (["HashAggregate"],
                       ["SortMergeJoin", "CartesianProduct"]),
    # distributed Cliff's delta: the exclusive global_cumsum replaces
    # the unkeyed window; post-localCheckpoint the plan tail must be
    # window-free (same caveat as q_ks_test_dist: the pinned sort is
    # a LocalTableScan upstream of what remains)
    "q_cliffs_delta_dist": (["Scan ExistingRDD"], ["Window"]),
    # distributed Brunner-Munzel: pooled + per-group midranks all
    # from ONE exclusive global_cumsum over the distinct-value table
    # — plan tail window-free (round-7 VERDICT item 2)
    "q_brunner_munzel_dist": (["Scan ExistingRDD"], ["Window"]),
    # cluster-rooted split: components run on the PAIR set, ONE
    # equi-join attaches roots, the split is a narrow projection —
    # no pair-space blowup anywhere
    "q_leakage_safe_split": (["Join"],
                             ["CartesianProduct",
                              "BroadcastNestedLoopJoin"]),
    # contamination audit: equi-joins attach endpoint splits to the
    # PAIR set; never a pair-space or corpus-wide blowup
    "q_split_contamination": (["Join", "HashAggregate"],
                              ["CartesianProduct",
                               "BroadcastNestedLoopJoin"]),
    # distributed Kendall: counts are computed eagerly (inversion
    # kernel + distinct-y cumsum jobs), the returned row is a literal
    # — audit pins the tail is a local scan with no window/join
    "q_kendall_dist": (["Scan ExistingRDD"], ["Window", "Join"]),
    "q_kendall_cont": (["Scan ExistingRDD"], ["Window", "Join"]),
    # grouped Spearman: every window keyed by the group over the
    # per-group distinct-value table; moments one combinable agg —
    # no nested loop, no cartesian
    "q_grouped_spearman": (["HashAggregate", "Window"],
                           ["BroadcastNestedLoopJoin",
                            "CartesianProduct"]),
    "q_grouped_cliffs": (["HashAggregate", "Window"],
                         ["BroadcastNestedLoopJoin",
                          "CartesianProduct", "SortMergeJoin"]),
    # windowed PSI: ONE stateful aggregation (conditional bin counts
    # per event-time window), reference frozen driver-side — no join
    # over the facts, no window function, no second agg exchange
    "q_windowed_psi": (["HashAggregate"],
                       ["Window", "Join", "CartesianProduct"]),
    # multi-epoch mixture: CASE threshold + ONE explode riding the
    # scan — no shuffle, no join, no window
    "q_mixture_epochs": (["Generate"], ["Exchange", "Join", "Window",
                                        "HashAggregate"]),
    # mixture-of-denoisers: four filter+projection branches unioned —
    # no shuffle, no join anywhere in the tree
    "q_objectives_mix": (["Union"], ["Exchange", "Join",
                                     "HashAggregate", "Window"]),
    # prefix-LM split: same one-projection contract as FIM
    "q_prefix_lm": ([], ["Exchange", "Join", "HashAggregate",
                         "Window"]),
    # span corruption: same one-projection contract as FIM
    "q_span_corruption": ([], ["Exchange", "Join", "HashAggregate",
                               "Window"]),
    # FIM augmentation is ONE fused projection riding the scan:
    # no shuffle, no join, no aggregate, no window anywhere
    "q_fim_transform": ([], ["Exchange", "Join", "HashAggregate",
                             "Window"]),
    "q_grouped_wasserstein": (["HashAggregate", "Window"],
                              ["BroadcastNestedLoopJoin",
                               "CartesianProduct", "SortMergeJoin"]),
    "q_windowed_js": (["HashAggregate"],
                      ["Window", "Join", "CartesianProduct"]),
    "q_grouped_ks": (["HashAggregate", "Window"],
                     ["BroadcastNestedLoopJoin", "CartesianProduct",
                      "SortMergeJoin"]),
    # vocab overlap: distinct (slice, token) hash agg + token-keyed
    # equi self-join — vocabulary-sized, never a nested loop
    "q_vocab_overlap": (["HashAggregate"],
                        ["BroadcastNestedLoopJoin",
                         "CartesianProduct", "Window"]),
    # hard negatives: anchors arrive BROADCAST into the corpus scan
    # (BNLJ is the broadcast cross — correct here), per-anchor top-k
    # is one keyed window; the corpus must never sort-merge or
    # full-cartesian.
    "q_hard_negatives": (["BroadcastNestedLoopJoin", "Window"],
                         ["SortMergeJoin", "CartesianProduct"]),
    # DBSCAN: neighbor pairs come from the grid EQUI-join (cell keys)
    # — a nested-loop distance join would be the quadratic classic.
    # (The final plan is the label join; the CC iterations inside are
    # checkpoint-truncated.)
    "q_dbscan": ([], ["BroadcastNestedLoopJoin", "CartesianProduct"]),
    # Holm distributed twin: running max via -cummin(-x) over the
    # two-phase primitives — the whole point is NO unkeyed window
    "q_holm_dist": (["MapInPandas"], ["Window"]),
    # q_kcenter / q_sinkhorn_drift / q_markov_attr return driver-
    # assembled bounded-state results (LocalTableScan) — their heavy
    # lifting happens in aggregates executed during construction, so
    # there is no final plan worth asserting on here.
    # round 9: mojibake repair and script profiling are pure fused
    # projections — they must ride the scan with NO exchange and a
    # 2-column pruned read (quality columns at 100 TB are free only
    # if they never shuffle).
    "q_encoding_repair": (
        ["ReadSchema: struct<doc_id:bigint,text:string>"],
        ["Exchange"],
    ),
    "q_script_detect": (
        ["ReadSchema: struct<doc_id:bigint,text:string>"],
        ["Exchange"],
    ),
}


# Codegen-compile check (round-10 VERDICT item 2): queries whose
# construction assembles a bounded result driver-side (final plan is a
# LocalTableScan / ExistingRDD with the heavy lifting in aggregates
# already executed) — there is nothing left to compile, and rebuilding
# them under AQE-off would re-run the eager jobs for no signal.
CODEGEN_SKIP = {
    "q_kcenter",
    "q_sinkhorn_drift",
    "q_markov_attr",
    "q_kendall_dist",
    "q_kendall_cont",
    "q_cliffs_delta_dist",
    "q_brunner_munzel_dist",
}


def codegen_fallback_of(spark, name: str, sf_dir: str) -> str | None:
    """Compile every whole-stage-codegen stage of a query, driver-side.

    With spark.sql.codegen.fallback=false a janino rejection THROWS
    from WholeStageCodegenExec.doExecute instead of silently degrading
    the projection to interpreted eval — the regression class that is
    invisible to both the oracle (answers stay right) and the sf0.1
    bench (cheap today, O(k²) interpreted at 100 TB; round-9 VERDICT
    weak item on script_profile). AQE is disabled so executedPlan() is
    the static plan and .execute() only BUILDS the RDD DAG: codegen
    stages compile on the driver, no Spark job runs.
    """
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = QUERIES[name](spark, sf_dir)
        df._jdf.queryExecution().executedPlan().execute()
        return None
    except Exception as e:  # noqa: BLE001 — any throw here is a FAIL
        return str(e).splitlines()[0][:200]
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])  # optional: audit just these queries
    order._ONE_TASK_MAX_BYTES = -1  # the scale regime, at any input size
    spark = get_spark("explain-audit")
    failures = 0
    todo = {
        k: v for k, v in EXPECTATIONS.items() if not only or k in only
    }
    for name, (must, must_not) in todo.items():
        p = plan_of(spark, name, sf_dir)
        problems = [f"missing: {m}" for m in must if m not in p] + [
            f"present: {m}" for m in must_not if m in p
        ]
        if problems:
            failures += 1
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}")
    # codegen pass runs over EVERY contract query (not just the ones
    # with shape expectations) — a fallback anywhere is a scale bug.
    cg_todo = sorted(
        k for k in QUERIES if (not only or k in only) and k not in CODEGEN_SKIP
    )
    cg_failures = 0
    for name in cg_todo:
        err = codegen_fallback_of(spark, name, sf_dir)
        if err:
            cg_failures += 1
            print(f"FAIL  cg:{name}: {err}")
        else:
            print(f"ok    cg:{name}")
    failures += cg_failures
    n_checks = len(todo) + len(cg_todo)
    print(f"\n{n_checks - failures}/{n_checks} plan checks pass "
          f"({len(todo)} shape + {len(cg_todo)} codegen)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
