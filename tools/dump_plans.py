"""Regenerate PLANS.md — annotated physical plans for the headline queries.

The point: show (not claim) that filters/projections reach the parquet scan,
dimension joins broadcast, aggregations run partial→final, top-N avoids a
global sort, and the interval join is an equi-join, not a nested loop.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
import rasgoql_spark as rql  # noqa: E402

SF = "/root/testdata/sf0.01"

ANNOTATED = [
    ("filter_project (B1)", "filter_project",
     "Both shipdate predicates appear in PushedFilters; ReadSchema carries "
     "only the 5 projected columns of 11."),
    ("join_agg (B3 flagship)", "join_agg",
     "customer joins as BroadcastHashJoin (explicit hint); the lineitem side "
     "never shuffles for it. HashAggregate appears partial+final."),
    ("aggregate (B2)", "aggregate",
     "date_trunc + groupBy in one stage; partial aggregation before the "
     "single hash shuffle."),
    ("top (first-class LIMIT)", "top",
     "TakeOrderedAndProject: per-partition top-N merged on the driver — no "
     "global sort at any scale."),
    ("interval_join", "interval_join",
     "Range bucketization makes this a (Broadcast)HashJoin on (bucket) with "
     "a residual BETWEEN filter — OSS Spark would otherwise plan a "
     "BroadcastNestedLoopJoin (quadratic)."),
    ("asof_join", "asof_join",
     "Union + single windowed last-non-null pass: exactly one shuffle on "
     "(key, ts); no per-key driver loop, no UDF."),
    ("dedup_minhash", "dedup_minhash",
     "Signature stage is scan-only (no shuffle beyond the small-input "
     "spread); band self-join shuffles only (id, band) pairs; shingle "
     "arrays re-attach to surviving candidates via the persisted signature "
     "table (InMemoryTableScan), which is released when the result is "
     "dropped (round-2 scoped caching). Round 3: one Window on the 32-byte "
     "set-fingerprint annotates each row's exact-duplicate representative; "
     "the band join input is the (__id = __rep) filter, so a 100k-copy "
     "page contributes ONE row per band instead of 100k (hot-bucket skew "
     "fix); member pairs re-expand from the same cached table."),
    ("train_test_split (bucketed scale path)", "train_test_split",
     "Round 2: on multi-partition inputs, percent_rank decomposes into "
     "range buckets (approxQuantile boundaries) + per-bucket rank + "
     "exclusive offsets — NO single-partition window Exchange anywhere in "
     "the plan. Small inputs keep the single-window form (optimal there). "
     "This sf0.01 dump shows whichever path the input size selects; "
     "tests/test_plans.py asserts the multi-partition property explicitly."),
    ("similarity_search_ivf (ANN scale path)", "similarity_search_ivf",
     "Round 2: centroid assignment is a literal-array projection (no join, "
     "no shuffle — k centroids are collected driver-side, a bounded "
     "action); corpus vectors are unit-normalized once into the persisted "
     "index so every candidate score is a single dot product; probes "
     "broadcast to the inverted lists."),
    ("grouping_sets", "grouping_sets",
     "Arbitrary grouping sets plan as ONE Expand + partial/final "
     "HashAggregate — one shuffle regardless of how many sets."),
    ("decontaminate (curation scale path)", "decontaminate",
     "Eval n-gram inventory is distinct-reduced then BroadcastExchanged; "
     "the exploded corpus (id, ngram) stream joins map-side "
     "(BroadcastHashJoin LeftOuter BuildRight) — the corpus never shuffles "
     "for the membership check. The only corpus shuffles are the spread() "
     "round-robin and the final per-document roll-up, which moves "
     "(id, int, int) rows only. pii_scrub / extract_urls / "
     "repetition_stats plan as a single whole-stage-codegen Project — zero "
     "Exchange at any scale (test_pii_scrub_is_shuffle_free_codegen)."),
    ("dedup_against (incremental dedup)", "dedup_against_minhash",
     "Cross-corpus LSH: both signature tables stay slim through the band "
     "join ((id, band) rows), Jaccard only on surviving candidates; round "
     "3 collapses exact-duplicate groups on BOTH corpora before banding "
     "(same window annotation as the self-join ops). Neither side carries "
     "an unconditional broadcast hint — AQE sizes the joins."),
    ("token_count_bpe_real (round 3)", "token_count_bpe_real",
     "Real BPE as a single whole-stage-codegen Project: the trained merge "
     "table unrolls into a JVM fold of string replaces — zero Exchange, "
     "zero Python. Scales with cores, never with shuffle."),
    ("bm25_score (round 3)", "bm25_score",
     "All corpus statistics (N, avg length, per-term document frequencies) "
     "collapse into ONE single-row aggregate that broadcasts; scoring is a "
     "projection over the corpus — the only exchanges are the one-row "
     "stats aggregation and its broadcast."),
    ("unigram_logprob (round 3)", "unigram_logprob",
     "Vocabulary is a capped TakeOrdered aggregation over slim token rows; "
     "document tokens explode to (id, token) and join the vocab AQE-sized; "
     "the per-document roll-up is one partial+final aggregation."),
    ("winnow_fingerprint (round 4)", "winnow_fingerprint",
     "Winnowing as a single whole-stage-codegen Project: staged token and "
     "gram-hash arrays (the HOF-staging rule) keep the window-min pass "
     "linear — zero Exchange, zero Python at any scale."),
    ("dedup_winnow (round 4)", "dedup_winnow",
     "Fingerprint overlap detection: the inverted-index self-join ships "
     "only (id, fp_hash) rows; full fingerprint arrays re-attach to "
     "surviving candidate pairs from the persisted fingerprint table."),
    ("bigram_logprob (round 4)", "bigram_logprob",
     "Unigram and bigram count tables are distributed aggregations over "
     "slim exploded pairs (never collected); the stat joins are AQE-sized; "
     "the one-row (N, V) frame broadcasts; per-doc roll-up is one "
     "partial+final aggregation."),
    ("skew_report (round 4)", "skew_report",
     "One hash aggregation on the key, then bounded single-row rollups and "
     "a TakeOrdered top-k over the key-cardinality-sized count table — the "
     "pre-flight check before any big groupBy/join."),
    ("dedup_against_bloom (round 4)", "dedup_against_bloom",
     "Bloom prefilter as a distributed bit table: the reference reduces to "
     "<= 2^bits_log2 DISTINCT ints (bounded regardless of corpus size, "
     "reusable across batches); membership is one equi-join over slim "
     "(id, bit) rows with all-bits-set counting; only bloom positives pay "
     "the exact fingerprint confirm — output equals the plain anti-join."),
    ("pagerank (round 5)", "pagerank",
     "Iterative rank propagation as slim (node, double) joins + sum-by-dst "
     "aggregations (partial+final); the dangling mass is a one-row "
     "aggregate rejoined via BroadcastNestedLoopJoin; per-iteration 9-dp "
     "rounding keeps the unrolled DuckDB replay exact. Round 5: out-degree "
     "pre-joins onto the edge table ONCE and the dangling-node set is "
     "loop-invariant (both persisted — InMemoryTableScan in the plan); the "
     "rank table persists every iteration because it feeds three consumers "
     "— without that cache the lineage re-executed earlier iterations "
     "multiplicatively."),
    ("diff_datasets (round 4)", "diff_datasets",
     "Both snapshots hash to (key, md5) BEFORE the full-outer join, so the "
     "shuffle carries 16 bytes per row regardless of document width."),
    ("logreg_score (round 4)", "logreg_score",
     "Each GD pass is ONE aggregation (k+1 means, partial+final) with "
     "weights as literals; scoring is a whole-stage-codegen projection — "
     "the corpus never shuffles at any phase."),
    ("semantic_dedup (round 5)", "semantic_dedup",
     "Cluster assignment is a literal-centroid projection (no join) up to "
     "256 centroids; above that (k='auto' at corpus scale) the centroid "
     "array ships as a one-row broadcast instead — O(1) plan size in k, "
     "corpus still shuffle-free (round 6). At this sf the literal path "
     "shows. The "
     "cosine self-join is an equi-join on CLUSTER_ID, bounding candidate "
     "pairs to within-cluster; the drop set ships as bare ids for one "
     "left-anti join. Round 5: exact-duplicate embeddings collapse to one "
     "representative (a Window over the rounded-vector group key, "
     "persisted once for its three consumers) BEFORE the pair join, so "
     "duplicate-heavy skew contributes one rep per group; members resolve "
     "row-locally against the group self-cosine."),
    ("ngram_containment (round 6)", "ngram_containment",
     "Asymmetric containment dedup over the exact inverted shingle index: "
     "only slim (id, shingle) rows cross the candidate self-join shuffle; "
     "shingle arrays re-attach to surviving candidates only; exact-dup "
     "groups collapse to one rep before the posting join (same guard as "
     "dedup_minhash). Candidates are NOT Jaccard-banded — band recall is "
     "governed by Jaccard, which is exactly what containment pairs lack."),
    ("embedding_join_ivf (round 6)", "embedding_join_ivf",
     "ANN join: per-left-row probe selection is a shuffle-free sort+slice "
     "over the centroid array (literal <= 256 centroids, one-row broadcast "
     "above); candidates form by an equi-join on CENTROID_ID (the shared "
     "_ivf_scores path of IVF search, join and dedup) so per-row cost is "
     "corpus x nprobe / num_centroids; top-k is one window over the "
     "candidate set (the shared _topk step). (Plan shown for the "
     "verification-summary query, "
     "which adds the exact brute companion join.)"),
    ("similarity_search_ivfpq (round 8)", "similarity_search_ivfpq",
     "IVF-PQ ANN (inline fit shown — the gate query's form): coarse "
     "assignment and PQ encoding are literal projections persisted once as "
     "the encoded index; the queries' probe frame — per-query ADC lookup "
     "tables, not vectors (the shared _adc_scores path) — broadcasts onto "
     "the codes-only scan of that cache; the ONLY Exchange is the final "
     "per-query top-k window, and WindowGroupLimit prunes to k rows per "
     "query BEFORE the shuffle, so shuffle volume is queries x k at any "
     "corpus size (test_ivfpq_prebuilt_search_single_exchange pins this "
     "on the prebuilt path)."),
    ("dedup_against_ivfpq (round 9)", "dedup_against_ivfpq",
     "Incremental semantic dedup over PQ codes: the batch's probe frame — "
     "carrying precomputed per-(query, list) ADC lookup tables, NOT "
     "vectors (the shared _adc_scores path) — broadcasts onto the "
     "encoded reference, "
     "whose scan reads (id, cid, m small ints) only; scoring is m array "
     "lookups per candidate, and pairs mode has NO hashpartitioning "
     "exchange at all (test_dedup_ivfpq_reference_never_shuffles pins "
     "this). The reference side moves zero bytes."),
    ("similarity_search_binary rerank (round 9)", "similarity_search_binary_rerank",
     "Two-stage binary ANN: stage 1 scans 8-byte packed signatures "
     "(2 xor+bit_count per candidate, broadcast query side — the shared "
     "_hamming_scores path), "
     "WindowGroupLimit prunes to k x factor before the only window "
     "shuffle; stage 2 joins the tiny survivor frame BACK onto a second "
     "corpus projection by broadcast, so full vectors are read for "
     "survivors only and the corpus never shuffles."),
    ("embedding_join_ivfpq (round 10)", "embedding_join_ivfpq",
     "The PQ-coded ANN join: the left side's probe frame carries "
     "precomputed ADC LUTs (smaller than the query vectors whenever "
     "m*codebook_size < dim) into an equi-join on the inverted-list id "
     "with NO broadcast hint — the left side may be the full corpus, so "
     "the join stays AQE-skew-eligible and AQE promotes small probe "
     "sides to broadcast on its own; the corpus-side candidate scan "
     "reads (id, cid, m small ints) — zero vector bytes — and "
     "WindowGroupLimit prunes the per-left-row top-k before the only "
     "window shuffle. The expression-valued join key passes through "
     "_cid_barrier so constraint inference can never substitute it "
     "across the join (plan-valid under cache eviction)."),
    ("embedding_join_binary (round 10)", "embedding_join_binary",
     "The big-big Hamming join: both sides pack row-locally to 8-byte "
     "signatures, explode to max_hamming+1 slim band rows, and shuffle "
     "ONLY on the band key (pigeonhole recall is exact) — no "
     "CartesianProduct, no BroadcastNestedLoopJoin, no per-row corpus "
     "scan anywhere (test_embedding_join_binary_never_goes_cartesian "
     "pins this); verification is 2 xor+bit_count ops per colliding "
     "pair and the top-k window is WindowGroupLimit-pruned."),
    ("fuzzy_join (round 5)", "fuzzy_join",
     "Blocking-and-verification entity resolution: the composite "
     "(prefix, length-bucket) key plans as a hash EQUI-join (no "
     "BroadcastNestedLoopJoin, no CartesianProduct); the left side's "
     "<=3-bucket probe is a bounded Generate (explode) before the join; "
     "levenshtein verification runs row-local on candidates only."),
    ("target_encode_oof (round 10)", "target_encode_oof",
     "Leakage-safe encoding with NO whole-table window: two partial+final "
     "hash aggregates produce the slim (category[, fold]) stats, AQE "
     "broadcasts them back onto the facts — the fact table never sorts "
     "and never shuffles for the join."),
    ("k_anonymize (round 10)", "k_anonymize",
     "ONE hash shuffle on the quasi-identifier key (window count without "
     "ordering); no second pass, no collect — the skewed combos are "
     "exactly the k-anonymous ones, so skew lands where no further work "
     "happens."),
    ("hilbert (round 10)", "hilbert",
     "Shuffle-free per-row integer math: the unrolled xy2d walk stays one "
     "WholeStageCodegen project chain over the scan (each curve level a "
     "named column — linear, not exponential, expression growth); the "
     "only aggregate is the bounded 2-doubles-per-column range "
     "discovery."),
    ("pmi_collocations (round 10)", "pmi_collocations",
     "Distributed counting end-to-end: bigram and unigram tables are "
     "partial+final hash aggregates; N attaches as a broadcast one-row "
     "crossJoin; top-k plans as TakeOrderedAndProject — no global sort, "
     "no collect."),
    ("l_diversity (round 10)", "l_diversity",
     "Distinct-count stats (partial distinct map-side) produce a "
     "|groups|-row table that joins back as a BroadcastHashJoin under "
     "AQE — no per-group collect_set window, the facts shuffle at most "
     "once."),
    ("t_closeness (round 10)", "t_closeness",
     "One (quasi, sensitive) cell aggregate; group/global proportions are "
     "window sums OVER the slim cell frame; the closed-form "
     "absent-category fold keeps the grid un-enumerated; the "
     "|groups|-row distance table broadcasts back."),
    ("mutual_information (round 10)", "mutual_information",
     "A single contingency hash aggregate; marginals are window sums over "
     "the |X|x|Y| cell frame; probabilities divide before multiplying so "
     "bigint products cannot overflow at extreme row counts."),
    ("seasonal_decompose (round 10)", "seasonal_decompose",
     "The whole additive decomposition — centered-MA trend, season "
     "positions, quantized seasonal means, residual — compiles to THREE "
     "Window nodes over ONE Exchange (the user_id hash): Catalyst reuses "
     "the partitioning across every stage (test_plans.py pins the "
     "single-exchange property for the full timeseries family)."),
    ("changepoint_detect (round 10)", "changepoint_detect",
     "Group mean, running CUSUM, and the argmax row_number stack as "
     "Window nodes over the SAME single Exchange on the group key — the "
     "staged __gmean column exists precisely because SUM(x - AVG(x) OVER) "
     "OVER would be an illegal nested window in both engines."),
    ("triangle_count (round 10)", "triangle_count",
     "Degree-ordered oriented wedges: canon/degree/oriented/triangle "
     "frames are scoped-persisted (each feeds 2-3 consumers — the canon "
     "cache alone halved the cold wall), every join is a slim-id "
     "equi-join (no CartesianProduct), and per-node counts are one "
     "partial+final aggregate over exploded corner projections."),
    ("hybrid_search (round 10)", "hybrid_search",
     "BM25's one-row stats frame broadcasts; the cosine is a shuffle-free "
     "literal-vector projection; the doc-embedding join is "
     "BroadcastHashJoin at this scale (AQE-sized, no hint); RRF's two "
     "competition ranks and the fused top-k run over the small candidate "
     "frame."),
    ("bm25_join (round 10)", "bm25_join",
     "Batch retrieval: query terms BROADCAST onto the (doc, term, tf) "
     "postings (3 BroadcastHashJoins at sf0.1, zero SortMergeJoins); "
     "per-(query, doc) scores accumulate as exact 9-dp BIGINTs so the "
     "aggregate is order-free; the only wide shuffle is that final "
     "(query, doc) aggregate plus the per-query top-k window."),
    ("dp_aggregate (round 10)", "dp_aggregate",
     "One partial+final hash aggregate on the group keys; the Laplace "
     "noise is a row-local md5 projection over the (small) aggregate "
     "output — nothing else in the plan."),
    ("cms_estimate (round 11)", "cms_estimate",
     "Two partial+final hash aggregates — (source, bucket) counts then the "
     "per-source map assembly — with shuffle bounded by groups x depth x "
     "width two-int rows; the estimate explode+lookup is a row-local "
     "projection over the 20-row sketch frame."),
    ("hard_negative_mine (round 11)", "hard_negative_mine",
     "Queries and positives both broadcast (BroadcastNestedLoopJoin for "
     "the 3-row query side, broadcast anti hash join for the positive "
     "pairs); the corpus scans ONCE and the per-query top-k is a "
     "k-bounded window."),
    ("cap_per_group (round 11)", "cap_per_group",
     "One window shuffle on the group keys with WindowGroupLimit "
     "pre-shuffle pruning: an oversized group (the megahost skew case) "
     "prunes to k survivors map-side before the exchange."),
    ("curriculum_order (round 11)", "curriculum_order",
     "Bucket edges come from ONE broadcast min/max row (no global rank); "
     "the final order is a range-partitioned global sort — no single-task "
     "stage anywhere."),
    ("dedup_substring (round 12)", "dedup_substring",
     "Positioned shingles are built row-local BEFORE the explode (no "
     "per-shingle token-array rematerialization); candidates come from a "
     "fingerprint equi-join over the df-capped postings (never a cross "
     "join); the run window partitions by (pair, diagonal) — bounded by "
     "the longest common run, not the corpus."),
    ("hilbert_nd (round 12)", "hilbert_nd",
     "The Skilling transpose is O(bits x dims) staged per-row integer "
     "projections inside one WholeStageCodegen span over the scan — no "
     "shuffle, no UDF; range discovery is the single bounded aggregate."),
]


def main() -> int:
    spark = rql.default_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = [
        "# PLANS — physical plans of the headline queries (sf0.01, regenerate "
        "with `python tools/dump_plans.py`)",
        "",
        "Assertions over these same properties run in `tests/test_plans.py`; "
        "this file is the human-readable evidence.",
        "",
    ]
    for title, name, note in ANNOTATED:
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        # keep the node tree + scan details; drop the long per-node columns
        lines = plan.splitlines()
        tree_end = next((i for i, l in enumerate(lines) if l.strip() == "" and i > 2), len(lines))
        tree = "\n".join(lines[: tree_end])
        scans = "\n".join(
            l for l in lines
            if ("PushedFilters" in l or "ReadSchema" in l) and "struct" in l or "PushedFilters" in l
        )
        out += [f"## {title}", "", note, "", "```", tree]
        if scans:
            out += ["", scans]
        out += ["```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
