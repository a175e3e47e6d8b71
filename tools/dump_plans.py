"""Generate PLANS.md: formatted physical plans of the flagship queries
with the plan properties that matter at 100 TB, checked mechanically.

Usage: python tools/dump_plans.py [sf_dir]   (writes PLANS.md at the repository root)

For each selected query this records:
* the `.explain("formatted")` output (truncated to the interesting part),
* whether filters/projections reached the parquet scan (PushedFilters /
  ReadSchema),
* the join strategies chosen (broadcast vs shuffle),
* the WholeStageCodegen span count (JVM-compiled pipeline coverage).
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: (query, why this plan shape is the one you want at scale)
SHOWCASE = [
    (
        "q03_filter",
        "Filters and the 2-column projection must reach the parquet scan: "
        "at 100 TB the difference between scanning 2 columns of a date "
        "range and the whole table is the whole game.",
    ),
    (
        "q04_agg",
        "Partial (map-side) aggregation before the shuffle: the exchange "
        "carries one row per (returnflag, linestatus) per task, not 600M "
        "lineitem rows.",
    ),
    (
        "q07_star_join",
        "All four dimension joins build broadcast hash tables; the fact "
        "table (lineitem) is never shuffled until the final tiny "
        "aggregation.  This is the plan that survives 1000 executors.",
    ),
    (
        "q16_correlated",
        "Catalyst decorrelates the per-partkey average subquery into one "
        "aggregate + one join — no per-row re-execution.",
    ),
    (
        "cdc_merge",
        "The reduce groups by exactly the key the apply join needs, so "
        "the partitioning is reused; the single-pass mode evaluates the "
        "merge fold once, inside the same job that applies it.  Round 5: "
        "the fold is pure whole-stage-codegen array expressions (no "
        "higher-order lambda) — note both Generate barriers sit INSIDE "
        "codegen span *(3), so the entire post-shuffle pipeline from "
        "aggregate to output row is one compiled loop.",
    ),
    (
        "dedup_minhash",
        "Signatures are per-row array folds (zero shuffle); the only "
        "exchange is the band-bucket group — LSH's candidate structure, "
        "not an O(n^2) self-join.",
    ),
    (
        "sim_ivf",
        "Centroid assignment broadcasts the (tiny) centroid set; the "
        "probe reads nprobe/nlist of the corpus via a broadcast semi "
        "join on the inverted-list id.",
    ),
    (
        "q31_asof_join",
        "As-of join as union + running window: ONE shuffle/sort on the "
        "key, O(1) state per row — no range-join candidate explosion.",
    ),
    (
        "dedup_incremental",
        "Batch-vs-corpus dedup: the batch side is checked against corpus "
        "text hashes and MinHash bands with SEMI joins — each batch doc "
        "costs its own signature plus a keyed lookup, never a corpus "
        "self-join.  At steady state the corpus signatures are "
        "precomputed, so an incoming crawl batch is O(batch).",
    ),
    (
        "q47_gapfill",
        "Gap-fill: per-user spine generation is a partition-local "
        "sequence+explode; observed values and the forward-fill window "
        "share the user_id partitioning, so the whole fill costs one "
        "shuffle of the (tiny) hourly aggregate, not of raw events.",
    ),
    (
        "q51_replacing_final",
        "ReplacingMergeTree FINAL as a max_by aggregate: map-side "
        "partials collapse versions before the shuffle, and no window "
        "sort — the exchange carries one row per key, which is what a "
        "latest-version read over a 100 TB upsert table must do.",
    ),
    (
        "q59_dict_get",
        "dictGet as a plan-literal map: the dimension lookup is a "
        "projection, not a join — NO join operator and NO dimension "
        "exchange appears; the only shuffle is the final aggregation. "
        "This is ClickHouse's replicated-dictionary execution, on Spark.",
    ),
    (
        "q60_window_funnel",
        "windowFunnel: all three chained stage minima are windows over "
        "the SAME user_id hash partitioning with no orderBy — one "
        "exchange total for t1 -> t2 -> t3 -> per-user collapse; the "
        "raw events table is shuffled exactly once and never sorted.",
    ),
    (
        "text_chunk",
        "Context-window chunking is a NARROW plan: sequence+explode "
        "fan-out, slice/hash projection, zero exchanges — at 100 TB it "
        "streams through executors at scan speed, output partitioning "
        "= input partitioning.",
    ),
    (
        "dedup_decontaminate",
        "Decontamination: the benchmark shingle set broadcasts; the "
        "corpus shingle explosion is joined map-side and only (doc_id, "
        "count) rows reach the exchange — the exploded corpus never "
        "shuffles.",
    ),
    (
        "q63_weighted_median",
        "quantileExactWeighted: the cumulative-weight window and the "
        "partition-total window share ONE exchange+sort on the group "
        "key, then the qualifying rows collapse with an algebraic min — "
        "no second shuffle, no per-group collect.",
    ),
    (
        "q64_bitmap_ops",
        "Bitmap cohort algebra: two stacked algebraic aggregates (per-"
        "user flags, then a global fold) with map-side partials at both "
        "levels — no join, no distinct over raw events; the second "
        "exchange carries one row per user, the final one row total.",
    ),
    (
        "text_packing",
        "Sequence packing: the window runs over (doc_id, lang, n_tok) "
        "projections — token counts, never document text; one shuffle "
        "on lang for the prefix sum, then the bin aggregate reuses the "
        "same partitioning.",
    ),
    (
        "sim_kmeans",
        "k-means assignment: the k centroids are PLAN LITERALS, so "
        "cluster assignment is a narrow scan (no join, no broadcast, "
        "no shuffle) and the only exchange is the final per-cluster "
        "aggregate — each Lloyd iteration costs one scan + one "
        "(cluster, dim) shuffle regardless of corpus size.",
    ),
    (
        "tpch_q3",
        "Classic 3-way analytic join: both fact-side date filters reach "
        "their scans before the join, the customer side reduces to one "
        "pruned column, and the orderkey shuffle is shared by join and "
        "aggregation.",
    ),
    (
        "tpch_q19",
        "The OR of brand/size/quantity brackets stays ONE predicate: "
        "part-side conjuncts are pushed into the broadcast build side, "
        "mixed conjuncts evaluate as join residuals — no "
        "union-of-three-scans blowup.",
    ),
    (
        "tpch_q2",
        "Correlated min decorrelated: the region-filtered partsupp "
        "relation is built once, its grouped min re-joins as a "
        "LEFT SEMI on (part, cost) — no per-row subquery, no second "
        "scan of the fact side; dims broadcast.",
    ),
    (
        "tpch_q11",
        "Scalar-fraction HAVING with exact BIGINT cents arithmetic: "
        "the per-part aggregate reduces once more to a 1-row total "
        "that broadcasts back — the threshold compare costs one tiny "
        "BroadcastNestedLoopJoin of a 1-row frame, never a re-scan, "
        "and can never flip on FP summation order.",
    ),
    (
        "tpch_q20",
        "Correlated shipped-quantity subquery decorrelated to ONE "
        "grouped aggregate over the date-sliced lineitem (the only "
        "big relation; it shuffles once on its own group key); the "
        "red-part prefilter is a broadcast semi-join so partsupp "
        "never carries unneeded parts into the join.",
    ),
    (
        "q102_pagination",
        "OFFSET folds into the same TakeOrderedAndProject as LIMIT: the "
        "driver materializes offset+limit rows from per-partition "
        "top-(offset+limit) heaps — never a global sort.",
    ),
    (
        "q98_auc",
        "ROC AUC sorts DISTINCT score values, not events: the window "
        "runs after a hash aggregate whose output is score cardinality — "
        "the single-partition window is bounded by value diversity, not "
        "data volume.",
    ),
    (
        "train_mix",
        "Mixture control is a map-only filter riding the scan: the "
        "MD5-hash keep-rate predicate evaluates inside the same "
        "WholeStageCodegen span as the parquet read — reweighting 100 TB "
        "costs exactly one pass, no shuffle before the tiny aggregate.",
    ),
    (
        "sim_pq",
        "Product-quantization encode with a plan-literal codebook: the "
        "per-subspace argmin over (dist, cid) structs is a row-local "
        "projection — ZERO exchanges; encoding 100 TB of vectors is one "
        "map pass, and the codebook ships with the plan.",
    ),
    (
        "sim_pq_adc",
        "ADC search reads 4 bytes of codes per vector instead of 256 "
        "bytes of floats: plan-literal distance tables + sum of lookups "
        "+ TakeOrderedAndProject.  No exchange, no join — the IVF-PQ "
        "query path at any corpus size.",
    ),
    (
        "q108_with_totals",
        "WITH TOTALS must come from ONE scan: the rollup Expand emits "
        "each row twice (group + grand-total replicas) map-side, so the "
        "totals row costs no second pass over 100 TB.",
    ),
    (
        "q114_ks_test",
        "Exact two-sample KS: rows collapse to per-distinct-value "
        "counts FIRST (a partial/final hash aggregate), so the ordered "
        "ECDF window runs over value cardinality, not event count — the "
        "single-partition window is bounded by value diversity.",
    ),
    (
        "dedup_ngram_stats",
        "Corpus duplication statistics: the explode is narrow, the first "
        "exchange carries (source, gram-hash) CELLS and the second "
        "carries distinct grams — 60-bit hashes on the wire, no "
        "row-level join; 10x corpus measured at +8% wall (SCALE.md).",
    ),
    (
        "text_bm25",
        "BM25: per-term tf is an array-filter projection riding the "
        "scan (no explode, no posting-list shuffle); corpus stats are "
        "ONE tiny broadcast aggregate; top-20 is TakeOrderedAndProject.",
    ),
    (
        "q42_funnel",
        "Ordered funnel in ONE scan + one user shuffle: per-user stage "
        "times collect in a single groupBy, the view->click->purchase "
        "chain resolves with array folds — the chained-aggregate "
        "alternative cost 4 fact scans and 9 exchanges.",
    ),
    (
        "tpch_q7",
        "Bidirectional nation-pair volume: the fact shuffles once on "
        "the order key; supplier/customer and BOTH nation roles "
        "broadcast, and the pair disjunction evaluates post-join on "
        "broadcast columns.",
    ),
    (
        "multimodal_phash_dedup",
        "Image dedup by perceptual hash: decode+dHash is ONE "
        "mapInPandas barrier; the dedup itself is a window on the "
        "64-bit hash — the hash is the only shuffle key, buckets stay "
        "tiny, no pairwise image comparison ever happens.",
    ),
    (
        "train_interleave",
        "Weighted mixing schedule from two keyed windows (per-source "
        "rank, then the global virtual-time order).  The global window "
        "is a range-partitioned sort — the same distributed shape as "
        "train_shuffle, no driver-side state.",
    ),
    (
        "q113_theils_u",
        "Round 6: join-free uncertainty coefficient — the marginals "
        "fold into per-cell window sums over the contingency CELLS "
        "(|x|x|y| rows), so the event-volume exchange happens exactly "
        "once and the former 1-row BroadcastNestedLoopJoins are gone.",
    ),
    (
        "dedup_bloom_prefilter",
        "Bloom filter as a (word, bits) TABLE: the build is one bit_or "
        "aggregate (map-side partials), the probe an equi-join on the "
        "word index — the 2,048-row filter broadcasts; no scalar-blob "
        "collect anywhere, so the shape is identical at 100 TB.",
    ),
    (
        "sim_centroid_classify",
        "Nearest-centroid classification: the centroid table is a "
        "(label, pos) aggregate (n_labels x dim rows) broadcast into a "
        "map-only assignment pass — no pairwise distances, output "
        "fixed at the confusion matrix.",
    ),
    (
        "tpch_q12",
        "Q12 over synthesized ship columns: every synthesized-column "
        "predicate (mode, commit/receipt windows) applies map-side at "
        "the lineitem scan BEFORE the orders join — at 100 TB only the "
        "~1/7 x date-window slice of the fact ever reaches the join.",
    ),
    (
        "q171_dialect_strsim",
        "Translated string-similarity batch: one scan of documents, "
        "all per-row token/ngram/levenshtein work inside whole-stage "
        "codegen, one exchange for the 5-group aggregate.",
    ),
    (
        "q172_dialect_maps_stats",
        "Translated map/stats batch: per-row map algebra "
        "(filter/apply/update) is pure expression work — zero Python, "
        "zero extra shuffles beyond the group-by exchange.",
    ),
    (
        "q173_scd2_join",
        "SCD2 temporal-dimension join: equi key + interval residual "
        "resolves to a BroadcastHashJoin (never BNLJ — the equi key "
        "exists); the synthesized dimension derives from one broadcast "
        "1-row aggregate, so the fact table is scanned exactly once.",
    ),
    (
        "q174_dialect_combinators",
        "-Array aggregate combinators: per-row folds inside whole-stage "
        "codegen feed ordinary map-side-combinable aggregates — no "
        "explode, so the shuffle carries 5 groups, not 2x the rows.",
    ),
    (
        "q179_dialect_funnel",
        "windowFunnel/retention/sequenceMatch per cohort: ONE hash "
        "aggregate (collect_list partials combine map-side), then the "
        "chain-state fold runs in whole-stage codegen over each "
        "cohort's sorted events — per-group state is ClickHouse's own "
        "aggregate-state bound, and the shuffle carries cohorts.",
    ),
    (
        "text_bpe_pairs",
        "BPE pair counting: the first exchange collapses the corpus to "
        "(word, freq) — VOCABULARY cardinality — so the symbol split, "
        "pair explosion, and pair aggregation all scale with vocab "
        "size, never corpus size.  The iteration loop of a real BPE "
        "train re-reads only that table.",
    ),
    (
        "text_bpe_encode",
        "BPE corpus encoding: tokenization is a pure function of the "
        "word, so the learned model is a vocabulary-cardinality "
        "(word, n_tokens) BROADCAST map joined map-side to the "
        "exploded corpus — the encode scan is the only corpus-sized "
        "work, and the per-doc rollup is a partial aggregate.",
    ),
    (
        "text_bigram_logprob",
        "Bigram LM scoring: adjacency is built ARRAY-SIDE (a transform "
        "over the split array — no window, no per-doc sort shuffle); "
        "the bigram and unigram count tables broadcast back over the "
        "corpus, so the only corpus-cardinality exchange is the "
        "per-doc partial aggregate.",
    ),
    (
        "sim_kcenter",
        "Greedy k-center selection: each step is one embarrassingly "
        "parallel scan — centers are plan literals, min-distance a "
        "least() of ordered codegen folds, the argmax a TakeOrdered.  "
        "ZERO shuffle bytes at any k or corpus size.",
    ),
    (
        "sim_rrf_fusion",
        "Reciprocal-rank fusion: each leg (BM25, cosine) keeps its own "
        "pruned top-k plan with 1-row broadcasts; the fusion is a "
        "2×20-row full-outer join — rank-bounded, corpus-independent.",
    ),
    (
        "train_curriculum",
        "Curriculum phases WITHOUT a global sort: exact-quartile "
        "thresholds from one 1-row percentile aggregate broadcast "
        "into a map-only CASE — an ntile() window would "
        "single-partition the corpus.",
    ),
    (
        "q184_zorder_skipping",
        "Z-order layout audit: the Morton key is pure codegen "
        "arithmetic (stats as plan literals), bucket = top 4 bits — "
        "no global sort — and the skipping report is one 16-group "
        "hash aggregate.",
    ),
    (
        "q187_dialect_asof_join",
        "ClickHouse ASOF JOIN on plain columns takes the BOUNDED "
        "translation: union both sides, one running last_value "
        "window per key - NO join operator, O(1) state per row, a "
        "hot key streams instead of fanning out (the equi-join + "
        "WindowGroupLimit top-1 shape survives only as the "
        "general-expression fallback).",
    ),
    (
        "sim_ivf_pq",
        "IVF-PQ composition: the coarse quantizer's broadcast semi "
        "join prunes ROWS to the probed lists; ADC's plan-literal "
        "lookup tables prune BYTES per surviving row - the FAISS "
        "architecture as one Catalyst plan.",
    ),
    (
        "multimodal_phash_near",
        "Banded Hamming LSH on a SIGNED 64-bit reinterpretation of "
        "the perceptual hash: integer band keys, bucket expansion "
        "(no join operator), capped hot buckets, and a one-op "
        "bit_count(xor) verify - 8x the string formulation at both "
        "measured scales.",
    ),
    (
        "text_dsir",
        "DSIR data selection: the fitted model is a 64-row broadcast "
        "(hashing makes it corpus-size-independent); fit and apply "
        "are two single-exchange scans.",
    ),
    (
        "dedup_semantic",
        "SemDeDup, corpus-derived cluster count: trained coarse "
        "codebook (one constant-folded 2-D literal, map-only argmin) "
        "+ <=128-row distance-ordered sub-buckets via a streaming "
        "row_number - population hard-bounded, candidate pairs grow "
        "linearly, no join anywhere.",
    ),
    (
        "dedup_span_scrub",
        "Span-level duplicate removal: the keep-first decision is a "
        "STREAMING row_number over the span-hash partition - no join "
        "back on the hash, no per-hash array; spans travel as 60-bit "
        "hashes.",
    ),
    (
        "text_ccnet_buckets",
        "CCNet terciles: broadcast count tables feed the per-doc LM "
        "score; the only non-scoring work is a per-language ntile "
        "window (exact rank split) and a 15-group rollup.",
    ),
    (
        "train_unimax",
        "UniMax water-filling: one exchange to language cardinality, "
        "then prefix-sum windows over ~#languages rows; every share "
        "is integer 'div' so both engines agree bit-for-bit.",
    ),
    (
        "q188_dialect_any_join",
        "ClickHouse ANY LEFT JOIN: the right side collapses to one "
        "lexicographic-min row per key BEFORE the join (partial/final "
        "aggregate) - the join input is key-cardinality, never a "
        "fan-out.",
    ),
    (
        "multimodal_vad",
        "Energy VAD: one plan-pinned mapInPandas (real WAV decode + "
        "integer windowed energies per clip), zero shuffle - "
        "decode-bound and embarrassingly parallel.",
    ),
    (
        "q189_dialect_full_any_join",
        "ClickHouse FULL ANY JOIN (legacy semantics): every left "
        "row survives; the right side collapses to one lexicographic-"
        "min row per key BEFORE the FULL join, so a left row can "
        "never fan out and unmatched right keys appear once.",
    ),
    (
        "q190_dialect_asof_using",
        "ASOF USING desugars to the ON form (last column = the "
        "closest-match inequality) and takes the bounded union + "
        "running last_value window: NO join operator, one exchange "
        "per side, O(1) window state per row.",
    ),
    (
        "dedup_span_longest",
        "Longest duplicate spans at suffix-array fidelity: sliding "
        "window hashes, duplicated-ness via two STREAMING row_numbers "
        "on one hash exchange, islands run chaining on the doc "
        "exchange - no join, no per-hash buffering.",
    ),
    (
        "train_doremi",
        "DoReMi: the only corpus-cardinality aggregate is integer "
        "(per-(domain, round) excess sums); the exponentiated-"
        "gradient recursion is window expressions over ~#domains "
        "rows.",
    ),
    (
        "train_rho_loss",
        "RHO-LOSS: exact top-k% boundary from the value-domain "
        "cumulative (<2000 distinct integer scores) + a 2000-row "
        "broadcast back onto the scan - rank-identical to a global "
        "row_number without the single-partition corpus sort.",
    ),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import __spark_entry__ as entry_mod
    from substreams_sink_clickhouse_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    out = [
        "# PLANS — physical-plan evidence for the scale design",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}`.  Each section",
        "shows the plan property that must hold for the operator to work at",
        "100 TB, then the actual Catalyst physical plan proving it holds.",
        "",
    ]
    for name, why in SHOWCASE:
        df = queries[name](spark, sf_dir)
        df.collect()  # execute THIS plan so AQE finalizes it in place
        qe = df._jdf.queryExecution()
        # keep only the final adaptive plan (the string repeats the
        # pre-AQE tree below "== Initial Plan ==")
        plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
        simple = plan
        n_codegen = len(
            set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
            | set(re.findall(r"\*\((\d+)\)", plan))
        )
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin)", plan)
        exchanges = len(re.findall(r"\+- Exchange ", plan))
        out.append(f"## {name}")
        out.append("")
        out.append(why)
        out.append("")
        out.append(f"* WholeStageCodegen spans: **{n_codegen}**")
        out.append(f"* Shuffle exchanges: **{exchanges}**")
        if joins:
            from collections import Counter

            out.append(f"* Joins: **{dict(Counter(joins))}**")
        if pushed:
            nonempty = [p for p in pushed if p.strip()]
            out.append(f"* Scans with pushed filters: **{len(nonempty)}/{len(pushed)}**")
        if read_schemas:
            cols = sorted({s.split(":")[0] for rs in read_schemas for s in rs.split(",") if s})
            out.append(f"* Columns read (pruned): `{', '.join(cols[:12])}`")
        out.append("")
        # keep the plan excerpt readable: first 40 lines of the tree
        tree = simple.split("\n")
        out.append("```")
        out.extend(line[:120] for line in tree[:40])
        if len(tree) > 40:
            out.append(f"... ({len(tree) - 40} more lines)")
        out.append("```")
        out.append("")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
