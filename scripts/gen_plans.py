"""Regenerate PLANS.md: formatted physical plans for headline queries,
so the optimizer behaviors the docs claim (pushdown, pruning, broadcast,
TakeOrderedAndProject, WindowGroupLimit, partial aggregation) are
inspectable without running anything. Run:  python scripts/gen_plans.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from terasort_spark.plans.checks import formatted_plan  # noqa: E402
from terasort_spark.registry import queries  # noqa: E402
from terasort_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# (query, what the plan should show)
HEADLINERS = [
    (
        "topk_skyline",
        "per-size min-price histogram + BroadcastHashJoin frontier; "
        "no dominance self-join, no sort of raw parts",
    ),
    ("scan_pushdown", "PushedFilters reach the parquet scan; ReadSchema pruned"),
    ("agg_group", "partial+final HashAggregate pair around one Exchange"),
    ("join_broadcast", "BroadcastHashJoin for the dim side"),
    ("tpch_q3_shape", "TakeOrderedAndProject bounds the rank window input"),
    ("tpch_q10_shape", "TakeOrderedAndProject bounds the rank window input"),
    ("topk_pergroup", "WindowGroupLimit prunes per-partition before the exchange"),
    ("sim_jaccard", "prefix-filter equi-join; no BroadcastNestedLoopJoin"),
    ("sim_cosine_pq", "broadcast codebook joins; no cartesian product"),
    ("dedup_minhash", "banded-LSH equi-join; single-shuffle per-doc cap"),
    ("text_contamination", "benchmark shingle side broadcasts"),
    ("sessionize", "one shuffle on user_id; running-sum window"),
    ("stream_join", "equi-join on user_id carries the shuffle; time range is a residual filter"),
    ("terasort", "RangePartitioning exchange + in-partition sort"),
    ("text_chunk", "zero-shuffle narrow chunking: scan -> generate -> project"),
    ("dedup_chunk", "one hash shuffle on chunk_md5; groupBy re-uses doc_id"),
    ("sim_cosine_mrl", "tiny broadcast query side; window group limits bound both stages"),
    ("fn_variant", "single parse_json per row; variant_get stays in codegen"),
    ("text_bm25", "zero-explode postings: array-HOF tf/dl in the scan; 1-row stats broadcast; TakeOrderedAndProject top-10"),
    ("scan_zorder", "Morton key from codegen bit-ops; RangePartitioning exchange writes the clustered layout"),
    ("profile_table", "distinct counts via two-level dedup groupBy — no Expand of the row stream"),
    ("ts_holt_forecast", "unrolled recursion: one pivot shuffle, then pure codegen arithmetic"),
    ("text_ccnet_bucket", "de-skewed terciles over a pinned (lang, score_i) checkpoint: ONE histogram-sized per-lang exchange, doc-level window inherits the checkpoint's partitioning and sort"),
    ("agg_weighted_percentile", "per-source running sum over the (source, n_chars) weight histogram, not raw docs"),
    ("sink_bucketed", "bucketed+sorted layout: fact-fact sort-merge join AND per-key agg with ZERO Exchange"),
    ("sample_stratified_alloc", "constant-bounded rank filter activates WindowGroupLimit; apportionment over langs-sized aggregate"),
    ("pipeline_rag_retrieval", "broadcast query vectors; chunk vectors one (chunk, dim) groupBy; top-k WindowGroupLimit"),
    ("ml_stump", "split search over the bounded n_chars histogram; corpus contributes one map-combined groupBy"),
    ("ts_autocorr", "one lead() window keyed by high-cardinality user_id, then one map-combined groupBy; no self-join"),
    ("dq_benford", "scan collapses to <=9 rows in partial aggregation; total window runs over the 9 aggregated rows"),
    ("agg_heavyhitters", "fixed 4096-cell sketch exchange (partial agg collapses each partition first); TakeOrderedAndProject bounds the rank window to 20 rows"),
    ("sink_ann_index", "probe scan carries dynamicpruning on the bucket directory key: the index read touches only probed buckets"),
    ("dq_referential", "per-FK LeftAnti equi-joins (dims broadcast); counts reduce map-side to one row per relationship"),
    ("ml_feature_hash", "md5 bucketing stays in codegen; fixed |langs|x64 key space collapses in partial aggregation"),
    ("ts_cusum", "windows consume the (event_type, day) aggregate, never raw events"),
    ("sample_token_budget", "budget prefix over the (lang, score) histogram; only the boundary tie-slice gets a doc-level window"),
    ("text_novelty", "owner-identity rewrite: two doc-sized aggregates join at doc granularity — no shingle-keyed join of exploded vs firsts"),
    ("sample_reservoir", "TakeOrderedAndProject: per-partition K-row heaps, no global sort"),
    ("pipeline_preference_pairs", "two rank-1 windows carry constant rn<=1 -> WindowGroupLimit keeps per-group state at one row map-side"),
    ("multimodal_scenecut", "one stateless mapInPandas frame-hash pass; lag window keyed by high-cardinality doc_id"),
    ("ml_mrr", "bounded 10-query ground-truth side joins broadcast; the evaluated IVF side keeps its bucketed equi-join"),
    ("source_fixedwidth", "JVM binaryRecords scan (one record-aligned split per part file) feeds key/value substrings and the decode projection in one codegen stage; no Python node"),
    ("mv_rewrite", "MV query rewrite: the only FileScan is the daily pre-aggregate, never orders.parquet; monthly roll-up of DECIMAL partial sums"),
    ("dedup_probabilistic", "Bloom gate: 256-word filter built by bit_or aggregation, broadcast to the probe; exact anti-join sees only the Bloom-positive sliver"),
    ("pipeline_ivm_rewrite", "composed MV lifecycle: the month answer's only FileScan is the refreshed view directory"),
    ("text_minhash_containment", "banded-LSH candidates (shared with dedup_minhash); estimation join moves 32 signature longs per pair, never token arrays"),
    ("scan_position_delete", "merge-on-read positional deletes: broadcast LEFT ANTI on (file_path, row_index); no SortMergeJoin, data files immutable"),
    ("sim_cosine_ivf_nprobe", "margin-ranked multi-probe stays ONE bucket equi-join (DPP-prunable shape); top-5 bounded by WindowGroupLimit"),
    ("terasort_skewed", "salted (key, salt) RangePartitioning exchange + in-partition sort: hot key spreads, output still key-ordered"),
    ("source_avro", "pyavro DataSource scan: sync-marker byte-range splits feed a pure projection (multi-split fan-out per container file)"),
    ("sim_cosine_sq8", "broadcast int8 query side; integer-dot shortlist bounded by WindowGroupLimit before the fp re-rank"),
    ("pipeline_hybrid_rrf", "both rank lists end in TakeOrderedAndProject (never a global row_number); depth-bounded full-outer fusion"),
    ("agg_quantile_hist", "partial+final bin-count aggregation; quantile extraction windows run over bins, not rows"),
    ("scan_bloom_skip", "pruned probe scans: PartitionFilters on the bucket directory key; bitmap built by bit_or aggregation, never collected"),
    ("pipeline_tokenize_pack", "broadcast vocab encode join onto the exploded token stream; one packing cumsum per source"),
    ("pipeline_crawl_frontier", "Partial+Final WindowGroupLimit prunes each host's frontier to the scheduled horizon BEFORE the host exchange"),
    ("ml_tree_depth2", "both child splits in ONE window pass (PARTITION BY node); root threshold carried by 1-row broadcast cross"),
    ("sim_source_minhash", "mergeable sketch: 32 min() aggregations collapse map-side; pairwise join moves signatures, never tokens"),
    ("agg_cms_topk", "CMS merge: two partial sketches union by cell-sum (partial+final aggregation), estimates via a keys-sized join; top-20 rank bounded"),
    ("agg_bloom_filter", "Bloom build = 128-word bit_or aggregation (collapses map-side); probe joins the broadcast word table"),
    ("dedup_semantic", "SemDeDup: broadcast K=8 centroid assignment; pair join carries the cluster equi-key — no all-pairs"),
    ("scan_equality_delete", "merge-on-read equality deletes: broadcast LEFT ANTI on (key, seq) condition; data files immutable"),
    ("ts_theil_sen", "per-key pair join on user_id equi-key; median via bounded rank filter — no cross-key product"),
    ("text_kneser_ney", "one shuffle to bigram counts (map-side combined); vocabulary-sized context/continuation joins; types broadcast"),
    ("sim_maxsim", "late interaction: broadcast query tokens; per-token MAX and per-pair SUM both partial-aggregated"),
    ("scan_manifest_prune", "the FileScan lists ONLY manifest-surviving files; residual predicate pushed into the pruned scan"),
    ("sim_cosine_binary", "sign codes built in whole-stage codegen; Hamming = xor+popcount on two words; broadcast 10-query side; rank bounded"),
    ("dedup_bloom_ingest", "standing corpus collapses to a 128-word bitmap (bit_or, map-side); batch probes via broadcast — no shuffle against corpus state"),
]


def main() -> None:
    spark = get_spark(app_name="terasort-spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    out = [
        "# PLANS — formatted physical plans of headline queries",
        "",
        f"Generated by `python scripts/gen_plans.py` at {SF} "
        "(regenerate after any operator change). Each section states the",
        "plan property the engine's 100 TB design depends on; the",
        "corresponding executable assertions live in tests/test_plans.py.",
        "",
    ]
    for name, claim in HEADLINERS:
        plan = formatted_plan(qs[name](spark, SF))
        out += [f"## {name}", "", f"**Claim:** {claim}", "", "```", plan.rstrip(), "```", ""]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
