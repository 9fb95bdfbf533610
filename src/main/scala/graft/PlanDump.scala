package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: annotated `explain("formatted")` output for the
  * headline queries, regenerated per round so the checked-in plans
  * always match the code. The annotations state the property each plan
  * must keep (also asserted in PlanSpec); the dump is the human-
  * readable evidence.
  *
  * Usage: `sbt "runMain graft.PlanDump /root/testdata/sf0.01 PLANS.md"`
  */
object PlanDump {

  private val Headliners: Seq[(String, String)] = Seq(
    "q10_knn_exact" ->
      ("The reference's core search (server.py:85-91) as one plan: scan → " +
        "codegen'd cosine → `TakeOrderedAndProject` (per-partition top-k " +
        "heaps, O(k) to the driver — the corpus is never sorted or shuffled)."),
    "q2_revenue_by_nation" ->
      ("Partial aggregation BELOW the join: lineitem collapses to per-order " +
        "rows before joining orders (the exchange reuses the pre-agg's hash " +
        "partitioning), dims arrive via `BroadcastHashJoin`."),
    "q5_filtered_revenue" ->
      ("Predicate pushdown: the selective filters appear as `PushedFilters` " +
        "on the Parquet scan and `ReadSchema` carries only referenced columns."),
    "q11_knn_multi" ->
      ("Grouped top-k with map-side combine: `partial_topkagg` runs UNDER the " +
        "`Exchange hashpartitioning(query_id)` — each partition ships at most " +
        "k candidates per query, never the scored corpus."),
    "q19_minhash_lsh" ->
      ("LSH dedup as an equi-join: band keys make candidate generation a " +
        "shuffled hash join on (band, key) — no O(n²) pair enumeration " +
        "anywhere in the plan."),
    "q42_packing" ->
      ("Sequence packing: ONE `Window` partitioned by pack_group (running " +
        "token sum), then a partial-aggregated groupBy — bounded state per " +
        "partition, parallelism = number of groups."),
    "q34_bm25_keyword" ->
      ("BM25: term stats and corpus stats join back as broadcasts; the only " +
        "non-broadcast exchange is the per-doc score aggregation, map-side " +
        "combined."),
    "q43_curation_pipeline" ->
      ("The full curation funnel in one plan: cached per-doc quality columns " +
        "× cached LSH survivor labels × hash split — the joins beyond the " +
        "cache reads are broadcast- or id-keyed, nothing rescans raw text."),
    "q50_repetition" ->
      ("Repetition screen: the per-(doc, token) count partial-aggregates " +
        "below its exchange; the shingle arm reads the cached distinct " +
        "hash sets, so no shingle is recomputed."),
    "q52_decontamination" ->
      ("Decontamination: train-set membership is probed by a hash-keyed " +
        "equi-join on the shingle hash (shuffled at corpus scale; Catalyst " +
        "downgrades to broadcast when the train set is actually small) — " +
        "never a nested loop."),
    "q58_centroid_outliers" ->
      ("Centroid outlier audit: the label-by-dimension centroid table is " +
        "tiny at any corpus size and joins back as a broadcast; the " +
        "per-vector distance aggregation partial-combines map-side and the " +
        "top-k ends in per-partition heaps."),
    "q59_incremental_dedup" ->
      ("Incremental (daily-ingest) dedup: only the NEW batch's band keys " +
        "join the corpus band keys — candidate volume is O(new), the " +
        "existing pair set is never recomputed, and the Jaccard " +
        "verification runs on candidates only."),
    "q65_bloom_decontam" ->
      ("Bloom semi-join reduction: the broadcast sketch probe " +
        "(`graft_bloom_might_contain`) sits in a Filter BELOW the corpus " +
        "side's distinct+join exchanges — rows that cannot match die at the " +
        "scan and the shuffle carries candidates only; the exact hash join " +
        "above it kills the sketch's false positives."),
    "q66_span_dedup" ->
      ("Chunk-grain span dedup: chunking and hashing are row-local codegen'd " +
        "passes; the only corpus-wide movement is one exchange on the chunk " +
        "hash feeding the first-occurrence window, then a map-side-combined " +
        "per-doc rollup — no join anywhere."),
    "q68_shard_manifest" ->
      ("Export shard manifest: ONE corpus scan, row-local shard hash + " +
        "tokenize, then a 16-group aggregate that partial-combines map-side " +
        "— the exchange carries 16 rows per partition, never documents."),
    "q69_export_manifest" ->
      ("The ship-it plan: quality × dedup survivor × train split × benchmark " +
        "decontamination composed into one Catalyst plan — every join " +
        "equi-keyed, the contamination probe bloom-prefiltered below its " +
        "exchange, survivors and shingles read from the session caches."),
    "q70_vocab_coverage" ->
      ("Vocab coverage via the distributed two-pass cumulative sum: wordcount " +
        "collapses the corpus to vocab-sized data, then RankedCumsum " +
        "range-partitions the sort and prefix-sums per-partition subtotals " +
        "on the driver — NO single-partition window anywhere (the plan ends " +
        "in an ExistingRDD scan of the second pass)."),
    "q72_brp_neardup" ->
      ("Embedding near-dup production twin: candidates from the session BRP " +
        "index's buckets via a canonical-table equi-join (each colliding " +
        "pair matched once — no pair-set distinct), cosine verification " +
        "inside the join condition, global top-k in per-partition heaps."),
    "q73_band_index_probe" ->
      ("Daily-ingest dedup off the PERSISTED artifact: the corpus band keys " +
        "are read back from a parquet layout PARTITIONED BY band (the scan " +
        "carries a dynamicpruning PartitionFilter from the new batch's " +
        "keys), shingle sets from the companion artifact — nothing about " +
        "the existing corpus is recomputed."),
    "q75_ivf_index_probe" ->
      ("Vector search off the PERSISTED IVF artifact: the corpus is read " +
        "back from a parquet layout PARTITIONED BY cell and the probe's " +
        "`cell IN (...)` appears as a static PartitionFilter on the scan — " +
        "only nProbe of the cell directories are listed, let alone read; " +
        "exact rescore + top-k heaps above."),
    "q79_boilerplate_scrub" ->
      ("Boilerplate scrub: chunk+hash row-local, ONE corpus shuffle for the " +
        "chunk document-frequency aggregate (map-side combined), then the " +
        "DF-filtered boilerplate set — small by construction — returns via " +
        "`BroadcastHashJoin`: the corpus-sized chunk table is never " +
        "re-shuffled just to learn its flags."),
    "q87_ivf_multiprobe" ->
      ("A BATCH of queries against the persisted IVF artifact (the same " +
        "plan graft.search.SearchEngine.streamingKnnVsIvf runs per " +
        "micro-batch): per-query cell selection ranks the broadcast " +
        "quantizer centers, then ONE artifact read joined on `cell` — the " +
        "scan carries a dynamicpruning PartitionFilter from the broadcast " +
        "query side, so I/O is bounded by the union of probed cell " +
        "directories; exact rescore + map-side top-k heaps above."),
    "q85_semdedup" ->
      ("SemDeDup report over fitted centroids (fit runs eagerly before this " +
        "plan): codegen'd literal-argmin assignment (k=8 — no join at all " +
        "for assignment), broadcast centroid join for centroid scores, and " +
        "the candidate-pair join KEYED ON cell — the cluster count bounds " +
        "pair volume precisely because no cartesian appears anywhere."),
    "q86_quality_classifier" ->
      ("Classifier scoring after the GD fit (training runs eagerly before " +
        "this plan; each training iteration is the same join shape): the " +
        "feature-space-bounded weight table returns via `BroadcastHashJoin` " +
        "— the corpus-sized feature table never shuffles to look up " +
        "weights — then one map-side-combined per-doc rollup."),
    "q88_dup_spans" ->
      ("Duplicated-span detection: the ≥-2-docs test is a partial-combined " +
        "min/max aggregate on the gram hash (the exchange carries distinct " +
        "grams per partition, never corpus positions, and no distinct-count " +
        "runs); anchors flag back via an equi-join on `h`; the " +
        "gaps-and-islands merge windows are partitioned by doc_id — state " +
        "bounded by document length, no global sort anywhere."),
    "q91_epoch_slices" ->
      ("Training-loader epoch slices: the global deterministic-shuffle " +
        "order + running token sum is RankedCumsum's two-pass distributed " +
        "cumsum (range-partitioned parallel sort, driver prefix of " +
        "#partitions subtotals) — NO single-partition Window anywhere; " +
        "slice assignment is row-local integer division above the " +
        "ExistingRDD scan of pass 2."),
    "q92_hist_quantiles" ->
      ("Mergeable histogram quantiles: binning is row-local integer math, " +
        "the corpus collapses map-side to a ~105-row bin directory before " +
        "ONE bin-sized exchange; whole-directory windows and the quantile " +
        "pick (a broadcast theta-join over the 5-row quantile list) cost " +
        "nothing at any corpus size — q30's full sort never appears."),
    "q94_temperature_mix" ->
      ("Temperature-scaled domain mixture: the ONLY corpus-sized work is " +
        "the first map-side-combined groupBy(lang); sqrt/share arithmetic " +
        "runs over the domain-bounded table with the one-row totals " +
        "arriving via BroadcastNestedLoopJoin — no shuffle after the " +
        "first aggregation at any corpus size."),
    "q95_spectral_terms" ->
      ("Spectral term signature: each power-iteration matvec is a " +
        "partial-aggregated groupBy (decimal-routed sums combine map-side); " +
        "the vocabulary-bounded term vector re-enters via " +
        "BroadcastHashJoin — the corpus-sized weight table never " +
        "re-shuffles to look up x; max-scaling is a one-row broadcast."),
    "q96_hll_distinct" ->
      ("HyperLogLog registers: NO distinct() pre-pass — partial_max(rho) " +
        "absorbs duplicate users map-side, so the only exchanged data is " +
        "register tables bounded by m × days × types; estimate joins are " +
        "domain-bounded broadcasts. Raw corpus rows never cross an " +
        "exchange — the mergeable-sketch property, visible in the plan."),
    "q103_moore_lewis" ->
      ("Moore-Lewis selection: both LM count tables are map-side-combined " +
        "vocabulary-bounded aggregates that return via BroadcastHashJoin " +
        "(the corpus-sized token stream never shuffles to look up counts); " +
        "per-doc sums partial-combine below their exchange and the " +
        "selection is per-partition top-k heaps (TakeOrderedAndProject)."),
    "q104_zipf_fit" ->
      ("Zipf head fit: ONE map-side-combined wordcount collapses the corpus " +
        "to the vocabulary, TakeOrderedAndProject takes the head, and every " +
        "operation after runs over ≤ N rows — the OLS sums are a single " +
        "bounded aggregate, corpus-size-independent past the first " +
        "exchange."),
    "q106_epoch_alloc" ->
      ("Epoch-capped allocation: the ONLY corpus-sized work is the first " +
        "map-side-combined groupBy(lang); all three re-distribution rounds " +
        "are 1-row aggregates of the domain-bounded table broadcast back " +
        "(BroadcastNestedLoopJoin of one row each) — the fixed-round " +
        "water-filling costs nothing more at 100 TB than at sf0.001."),
    "q107_weighted_sample" ->
      ("Weighted sampling without replacement as ONE top-k: quality weight, " +
        "uniform draw and ES key are row-local codegen'd expressions over " +
        "the cached enrichment, and the plan ends in TakeOrderedAndProject " +
        "— the corpus is scanned once and never shuffled, which is what " +
        "makes 'sample 50M docs by quality' a single pass at any scale."),
    "q109_source_anova" ->
      ("Per-source quality ANOVA: the corpus collapses map-side to the " +
        "source directory in ONE aggregation; the F/η² decomposition is " +
        "arithmetic over that k-row table with the one-row totals returning " +
        "via broadcast — variance monitoring at 100 TB costs one combined " +
        "scan."),
    "q110_ks_drift" ->
      ("Binned two-sample KS: binning and split flags are row-local, the " +
        "corpus collapses map-side into the value-range-bounded bin " +
        "directory (≤1001 rows), and the ECDF windows + argmax run on that " +
        "directory under a real partition spec — the drift statistic never " +
        "sorts or shuffles the corpus."),
    "q111_zorder_layout" ->
      ("Z-order layout + skipping audit: bucketize and Morton-interleave " +
        "are row-local arithmetic against ONE broadcast extent row, the " +
        "corpus collapses map-side into the ≤2^16-row z-directory, and " +
        "file boundaries are integer overlap arithmetic on the directory " +
        "cumsum — no per-row rank, no join back to rows; the directory IS " +
        "the rewrite's file manifest at any corpus size."),
    "q114_cdc_apply" ->
      ("CDC latest-wins apply with the compaction contract audited " +
        "in-plan: each snapshot is one row_number window partitioned by " +
        "user_id (millions of small groups at scale, never a global " +
        "sort); the merge unions the 1-row-per-user base artifact with " +
        "the delta and re-applies the same keyed window."),
    "q115_winnowing" ->
      ("Winnowing fingerprints: positional shingle hashes (codegen'd), " +
        "window-min and distinct all inside the projection — fingerprint " +
        "extraction never shuffles; the pair join is a fingerprint-keyed " +
        "equi-join (vocabulary-bounded, the q52 argument) with the " +
        "shared-count threshold applied before the nfp joins."),
    "q116_bootstrap_ci" ->
      ("Poisson bootstrap: the ×40 replicate fan-out collapses to " +
        "(source, rep) partials inside the map stage — the exchange " +
        "carries sources×40 rows, not corpus×40; CI arithmetic runs on " +
        "that directory with small joins broadcast."),
    "q117_classifier_auc" ->
      ("Tie-aware ROC-AUC: ONE range-partitioned parallel sort of the " +
        "narrow (doc, score) table (RankedCumsum two-pass — no " +
        "single-partition window), one id-keyed join back to labels, one " +
        "map-side-combined groupBy(score) into the distinct-score " +
        "directory, then three LONG sums to a single row — never the " +
        "P·N pairwise definition."),
    "q118_vocab_richness" ->
      ("Good-Turing/Chao1: the corpus collapses twice before any " +
        "arithmetic — token counts (vocabulary-sized exchange, map-side " +
        "combined), then frequency-of-frequencies (O(√N) rows by " +
        "sum-of-counts) — and the per-lang rollup is exact integers " +
        "until two final divisions."),
    "q119_session_concurrency" ->
      ("Sweep-line concurrency: sessionization is the q23 keyed window " +
        "(per-user groups), each session emits two deltas, ONE " +
        "map-side-combined groupBy collapses them to the value-range-" +
        "bounded minute directory, the cumulative count runs on that " +
        "bounded frame, and the peak report is TakeOrderedAndProject — " +
        "the interval-overlap self-join (quadratic exactly when " +
        "concurrency is high) never exists."),
    "q120_lens_kappa" ->
      ("Cohen's kappa between verification lenses: the candidate set is " +
        "band-join bounded (session-cached), the four text/shingle joins " +
        "are id-keyed equi-joins, and the confusion matrix is ONE " +
        "map-side-combined aggregate to a single row — integer " +
        "arithmetic until the two final divisions."),
    "q121_knn_confusion" ->
      ("Per-class kNN eval: q56's broadcast-probe plan plus two " +
        "label-directory aggregations (≤ #classes rows, map-side " +
        "combined) and one broadcast join — the eval table costs " +
        "nothing beyond the predictions; no new corpus pass, no " +
        "shuffle join anywhere."),
    "q122_dup_flows" ->
      ("Duplication-flow matrix: the session-cached verified pairs join " +
        "documents twice on id, the cell rollup is one map-side-combined " +
        "groupBy to ≤ sources² rows, and the one-row total returns by " +
        "broadcast — provenance forensics at the cost of two id-keyed " +
        "joins over the (already bounded) pair set."),
    "q123_signal_corr" ->
      ("Signal-redundancy Pearson matrix: the three signal builds share " +
        "q98's session caches, the 3-way join is doc_id-keyed, and the " +
        "whole matrix collapses in ONE map-side-combined aggregate to a " +
        "single row — exact decimal sums, so every r is " +
        "partition-order-free."),
    "q124_component_split" ->
      ("Component-keyed split: both assignments are row-local hashes over " +
        "the session-cached component labels, ONE map-side-combined " +
        "groupBy(component) collapses the corpus, and the two one-row " +
        "aggregates meet in a broadcast crossJoin — leakage-safety " +
        "costs one keyed exchange at any corpus size."),
    "q125_hilbert_layout" ->
      ("Hilbert vs Morton vs lexicographic: the corpus collapses " +
        "map-side into the bucket directory FIRST, then the Hilbert " +
        "address is 8 chained integer-CASE projections over the " +
        "≤2^16-row directory — curve arithmetic costs nothing at any " +
        "corpus size; the three carves reuse the same bounded-window " +
        "file machinery as q111."),
    "q126_kmv_setops" ->
      ("KMV set operations: per-type top-K via the keyed window " +
        "(WindowGroupLimit keeps K per partition before the sort), " +
        "sketches are K-sized rows so the pair table broadcasts; the " +
        "only corpus-sized exchanges are the two distinct passes — the " +
        "exact-intersection audit drops at 100 TB, the sketches are " +
        "what persists."),
    "q127_skew_profile" ->
      ("Skew profiler: per-key counts collapse map-side to the key " +
        "directory, the directory is ranked by the two-pass parallel " +
        "rank (no single-partition window), and the Gini/top-share " +
        "report is exact LONG sums to one row — measuring whether " +
        "salting is needed costs one combined scan plus one narrow " +
        "sort."),
    "q128_funnel" ->
      ("Ordered funnel in ONE keyed window pass: the running first-view " +
        "/ first-qualified-click columns share a per-user sort (planned " +
        "once), the rollup is user-keyed, and the 3-row report is " +
        "arithmetic on one row — the k-way self-join the naive funnel " +
        "runs never exists."),
    "q129_retention" ->
      ("Cohort retention: first-day rollup and the activity join are " +
        "user-keyed, the matrix collapses map-side into the " +
        "time-range-bounded (cohort, offset) directory, and cohort " +
        "sizes return by broadcast."),
    "q130_daily_anomaly" ->
      ("Trailing z-score alarm: ONE map-side-combined groupBy collapses " +
        "the corpus to the types×days directory; the trailing " +
        "mean/variance are exact integer sums over per-GROUP ROWS " +
        "frames on that bounded table — the alarm costs one combined " +
        "scan at any corpus size."),
    "q131_event_transitions" ->
      ("Markov transition matrix: ONE keyed window pass pairs each " +
        "event with its successor (per-user groups), the matrix " +
        "collapses map-side to ≤ types² cells, and row totals return " +
        "by broadcast — sequence modeling at the cost of one per-user " +
        "sort."),
    "q132_conversion_latency" ->
      ("Latency quantiles: q128's keyed window chain feeds a " +
        "minute-grain latency directory (time-range-bounded), the " +
        "cumulative window runs on that bounded frame, and the " +
        "quantile read-off is the q92 all-integer rule with the " +
        "3-row quantile table broadcast."),
    "q133_trim_sketch" ->
      ("Sketch-cutpoint trim: the corpus collapses to a per-lang " +
        "fixed-width length histogram (value-range-bounded directory) " +
        "under map-side combine; the per-lang windows run on the " +
        "DIRECTORY, the ≤|langs|-row cutpoint table joins back " +
        "broadcast, and the keep decision is row-local — q54's " +
        "per-stratum corpus sort is GONE."),
    "q134_ccnet_sketch" ->
      ("Sketch-cutpoint terciles: the LM-scored corpus (shared " +
        "session cache) bins row-locally by floor(avg_ll·512); the " +
        "desc-cumulative cut bins come off the per-lang score " +
        "directory and assignment is a broadcast-joined row-local " +
        "CASE — q112's per-lang rank window replaced by a bounds " +
        "lookup."),
    "q135_token_shards" ->
      ("Serpentine token-balanced sharding: the global length rank is " +
        "the two-pass range-partitioned shape (no Window operator " +
        "anywhere), the boustrophedon map is row-local integer math, " +
        "and the manifest is one map-side-combined K-row aggregate."),
    "q138_source_kl" ->
      ("Per-source KL: ONE corpus exchange builds the (source, tok) " +
        "directory with map-side combine; global token counts DERIVE " +
        "from that directory and return by broadcast — no second " +
        "corpus pass, no sort-merge join."),
    "q141_table_profile" ->
      ("Exact table profiler: one single-column parquet scan per " +
        "column (ReadSchema carries exactly one field per branch — " +
        "column pruning is the whole plan), stacked values counted " +
        "via map-side two-level groupBy; since r18 BOTH profiles " +
        "(row/null counts and the distinct directory) derive from " +
        "one (col_name, v) directory that keeps nulls as a group — " +
        "no second pass over the stacked union, no join at all."),
    "q144_pq_codebook" ->
      ("Product quantization: four independent 16-dim Lloyd's fits " +
        "(each iteration one map-side k×dim-bounded exchange), code " +
        "assignment row-local against ≤4 inlined centroid literals, " +
        "final rollup ≤ m×k rows — compression trained without the " +
        "corpus ever shuffling on anything but the bounded " +
        "per-iteration aggregates."),
    "q155_image_phash" ->
      ("Perceptual-hash image dedup: real decode + dHash (the round-17 " +
        "adopted threshold-free bit family) inside " +
        "mapPartitions (blobs never shuffle), ONE equi-join on the " +
        "exploded (band_idx, band_val) key with the canonical " +
        "first-agreeing-band filter — candidate generation is banding, " +
        "never pair enumeration."),
    "q156_audio_fingerprint" ->
      ("Delta-sign audio fingerprint dedup: real WAV decode + " +
        "fingerprint inside mapPartitions (blobs never shuffle), then " +
        "q155's exact banded candidate→verify shape — one exploded " +
        "(band_idx, band_val) equi-join, first-agreeing-band claim, " +
        "exact Hamming verify."),
    "q172_lsm_delete" ->
      ("Tombstone-aware LSM probe: main ∪ delta under latest-op-wins — "
        + "tombstones broadcast ANTI-join the main scan and shadow the "
        + "delta's LWW-resolved rows BEFORE any ranking, so the top-k "
        + "back-fills with live rows exactly (no oversample-then-drop); "
        + "both segment scans stay cell-pruned, each scanned once."),
    "q173_served_delete" ->
      ("The service path over the delete lifecycle: q165's plan (eager "
        + "probe + PushedFilter-In payload point lookups + broadcast "
        + "score join) with the delta's exact scan filtered by the "
        + "per-doc latest-op rule — a corrected re-ingest serves its "
        + "newest row, dead versions never enter the merge."),
    "q174_refit_gauge" ->
      ("The refit trigger: codebooks read from the session artifact and "
        + "inlined as driver literals (no fits at query time), then "
        + "ONE corpus scan computes every row's assigned-code "
        + "distortion row-local (codegen argmin over ≤16 inlined "
        + "centroids per subspace) and a single conditional aggregate "
        + "folds both sides — no grouping, no joins, no second pass."),
    "q175_major_fold" ->
      ("Post-fold probe: q148's exact plan shape against the artifact "
        + "majorCompact rewrote from the LSM's live frames — same cell "
        + "PartitionFilter on the one scan, same two stacked heaps; the fold "
        + "changed the files, not the plan."),
    "q176_evolving_eval" ->
      ("Evolving-index standing eval: LSM liveness resolves ONCE for "
        + "the query batch (lsmLiveSegments), each query probes the "
        + "shared frames cell-pruned, ground truth is one broadcast "
        + "exact scan of the live set, metric math over ≤ 7·(k+1) "
        + "rows."),
    "q177_served_filtered" ->
      ("Filtered search at the service surface: q152's pre-filter "
        + "strategy through q165's served plan — the label predicate "
        + "reaches both artifact scans as a PushedFilter UNDER the "
        + "cell PartitionFilter, the shortlist ranks qualifying rows "
        + "only, payload fetch stays k point lookups."),
    "q179_lifecycle_eval" ->
      ("Composed lifecycle eval: q176's metric tail over two arms — "
        + "post-fold probes against the majorCompact artifact (q148's "
        + "pinned cell-pruned shape, no delta) and filtered probes "
        + "with the q177 label predicate pre-applied to every live "
        + "segment scan; ground truths are session-cached exact "
        + "tables, so a warm rep pays 12 bounded probes and ≤ "
        + "12·(IrK+1)-row metric math."),
    "q163_paraphrase_mining" ->
      ("Paraphrase mining: CORPUS-SCALED sign-LSH bucket equi-join for "
        + "candidates (planesFor(n) planes, buckets ∝ n, candidate "
        + "volume near-linear — never all-pairs), exact cosine verify, "
        + "lexical Jaccard gate via the session-cached shingle view — "
        + "every stage before the sort is shuffle-bounded by candidates."),
    "q165_served_search" ->
      ("The SERVICE entry point's returned plan: the IVF-PQ probe half "
        + "executes eagerly (q148's pinned shape) and the payload fetch "
        + "is k point lookups — the collected hit ids reach the "
        + "documents scan as a PushedFilter In, the k-row score table "
        + "broadcasts, nothing shuffles."),
    "q166_retrieval_arms" ->
      ("Production-arm IR report: the BRP banded arm (canonical "
        + "first-agreeing-table claim over the session index's band "
        + "view), the IVF and IVF-PQ artifact probes (cell-pruned, "
        + "q87/q151's shapes), each re-ranked in <= k+1-row frames "
        + "after the self drop, metric math over <= 3*5*11 rows."),
    "q167_afp_index_probe" ->
      ("Incremental audio dedup vs the persisted fingerprint band "
        + "index: q158's exact probe shape — the new batch decodes "
        + "only itself, band equi-join vs artifact ∪ prior-new keys, "
        + "first-agreeing-band claim, exact Hamming verify."),
    "q168_vphash_index_probe" ->
      ("Incremental video dedup vs the two-table artifact: frame-0 "
        + "anchor bands (+ equal frame counts) for candidates, the "
        + "aligned per-frame Hamming verify joining the artifact's "
        + "frames table for old partners and the batch's own decode "
        + "for prior-new — the indexed clips are never re-decoded."),
    "q169_phash_ingest_lsm" ->
      ("Index GRADUATION (the media LSM): the later ingest batch "
        + "probes the static band artifact ∪ the SegmentStore "
        + "generation the earlier batch folded into — both sides read "
        + "back from parquet (no decode anywhere in the plan), one "
        + "band equi-join, partner provenance certifying the "
        + "graduated rows answered."),
    "q181_vphash_takedown" ->
      ("The video takedown — two-table lifecycle: anchor and frame "
        + "stores each resolve last-writer-wins, surviving markers "
        + "shadow BOTH static tables through one broadcast anti-join "
        + "on the taken-down doc set, the aligned-Hamming verify is "
        + "unchanged; no decode anywhere."),
    "q180_afp_takedown" ->
      ("q178's audio face — the same lifecycle-aware probe over the "
        + "delta-sign fingerprint store: physical drop at the fold, "
        + "marker shadowing of the static artifact by one broadcast "
        + "anti-join, no decode in the plan."),
    "q178_phash_takedown" ->
      ("Media takedown lifecycle: q169's probe after a delete-marker "
        + "batch — the fold already dropped the taken-down graduated "
        + "rows physically (last-writer-wins over (doc_id, j)), so the "
        + "store scan serves data rows as-is and the surviving markers "
        + "shadow the static artifact via ONE size-gated anti-join "
        + "(broadcast under the measured marker-row ceiling, shuffle "
        + "past it) below the candidate equi-join; no decode anywhere."),
    "q182_phash_rebuild" ->
      ("Media STATIC REBUILD (the media majorCompact): the probe runs "
        + "against the freshly folded generation ALONE — one parquet "
        + "scan on the candidate side, NO store read, NO marker shadow "
        + "anti-join, no decode; the lifecycle cost paid once at fold "
        + "time instead of on every probe forever."),
    "q183_afp_rebuild" ->
      ("q182's AUDIO face — the rebuilt delta-sign fingerprint "
        + "generation probed alone: the only parquet read is the fresh "
        + "static (taken-down rows physically absent, zero live "
        + "markers), no store scan, no anti-join, no decode in the "
        + "plan."),
    "q185_root_served" ->
      ("Serving-root search (the --root tool surface): the probe half "
        + "executed eagerly against the pointer-resolved epoch "
        + "artifact (q148's pruned shape, folded generation); the "
        + "RETURNED plan is the payload fetch — hit ids reach the "
        + "epoch corpus and documents scans as PushedFilter point "
        + "lookups, the k-row score table broadcasts, nothing "
        + "sort-merges."),
    "q186_batch_served" ->
      ("Batched serving's probe frame (the plan IS the feature): N "
        + "prompts share ONE probe subtree — a single DPP-pruned "
        + "artifact scan (ADC distance and exact score per pair) "
        + "serves the whole batch, per-query shortlists rank in one "
        + "window, top-k combines in partial top-k heaps; a "
        + "per-prompt fallback would multiply the artifact scans by "
        + "the batch size. (q186's returned frame is the O(prompts·k) "
        + "driver merge by design; this dumps the inner probe frame — "
        + "SearchEngine.batchMainProbeFrame, the exact plan "
        + "searchIndexedBatch collects.)"),
    "q187_root_batch_served" ->
      ("Root-served BATCH probe frame (q186's one-subtree shape "
        + "THROUGH the serving pointer): the root resolves ONCE for "
        + "the whole batch — every artifact scan in the plan reads the "
        + "SAME pointer-resolved epoch generation — and the N prompts "
        + "still share ONE artifact scan; "
        + "post-fold the epoch delta carries no tombstones, so no "
        + "exclusion anti-join survives in the probe. (Like q186, the "
        + "declared query's returned frame is the O(prompts·k) driver "
        + "merge; this dumps the inner probe frame against the "
        + "resolved epoch dirs.)"),
    "q184_vphash_rebuild" ->
      ("The video rebuild probe: both clip-index tables read from the "
        + "fresh generation — anchor equi-join then aligned-Hamming "
        + "verify, with the takedown resolved PHYSICALLY at fold time "
        + "(no shadow join anywhere in the plan)."),
    "q164_retrieval_metrics" ->
      ("Retrieval-quality eval (recall@k / MRR / nDCG@k): both arms "
        + "rank via the map-side partial top-k heap under their "
        + "query_id exchange — never a per-query window, whose "
        + "IrQueries keys would each funnel a full candidate set "
        + "through one reducer — and the metric joins run over "
        + "≤ IrQueries×IrK frames (AQE broadcasts them)."),
    "q162_semantic_decontam" ->
      ("Semantic decontamination: benchmark embeddings broadcast, the "
        + "corpus scans once, per-vector max similarity partial-"
        + "aggregates map-side under the vec_id exchange — the "
        + "embedding-space complement of the lexical q52/q65/q102 "
        + "screens."),
    "q161_media_health" ->
      ("Media ingest health: row-local decode with the quarantine "
        + "policy (corrupt blobs become null features, never task "
        + "failures), map-side-combined per-source rollup — the "
        + "trust-a-batch report with zero extra shuffles."),
    "q160_image_export" ->
      ("Dedup-aware image export manifest: survivors of the q155 pair " +
        "graph shard under the dedicated portable shard hash, each " +
        "shard carrying decoded-pixel gray mass as its content " +
        "checksum — ONE decode pass (the session-cached bands view) " +
        "feeds q155, q159, and this manifest."),
    "q159_image_survivors" ->
      ("Image dedup survivors: the session-cached q155 pair view feeds " +
        "connected components (union-find below the edge cutover, " +
        "large-star/small-star above) — after the one decode+hash pass " +
        "everything moves (id, id) rows only."),
    "q158_phash_index_probe" ->
      ("Incremental image dedup vs the persisted phash band index: the " +
        "new batch decodes + hashes only ITSELF (O(new) decode work), " +
        "candidates are a band equi-join against the parquet artifact " +
        "∪ prior-new keys, first-agreeing-band claim, exact Hamming " +
        "verify — the indexed corpus is never re-decoded."),
    "q157_video_neardup" ->
      ("Temporal video near-dup: real multi-frame decode + per-frame " +
        "dHash inside mapPartitions (blobs never shuffle), frame-0 " +
        "anchor banding (+ equal frame counts) for candidates, exact " +
        "aligned per-frame Hamming sum as the verify — band equi-join " +
        "then doc-keyed equi-joins only, never pair enumeration."),
    "q154_ivfpq_residual" ->
      ("Residual IVFADC: q148's exact plan shape — one cell-pruned " +
        "scan, bounded ADC shortlist heap, exact top-k heap — with " +
        "per-(cell, code) literal lookup tables; the encoding changed, " +
        "the plan did not."),
    "q152_filtered_ivfpq" ->
      ("Filtered ANN (pre-filter strategy): the label predicate reaches " +
        "the artifact scan as a PushedFilter UNDER the cell " +
        "PartitionFilter — row groups are skipped by column statistics, " +
        "the ADC shortlist ranks qualifying rows only, and selectivity " +
        "cannot starve the top-k."),
    "q153_ivfpq_compact" ->
      ("Minor compaction read path: the graduated delta segment scans " +
        "like the main artifact (cell-pruned, one scan each), the two " +
        "segments UNION under one quantizer's cell ranking, one " +
        "shortlist heap bounds the exact top-k — q150's full delta " +
        "scan retired for nProbe/cells of it."),
    "q151_ivfpq_multiprobe" ->
      ("Batched IVF-PQ probe: per-query cell ranking against broadcast " +
        "centers, ONE corpus read DPP-pruned by the broadcast " +
        "(query x nProbe) side, inline-LUT ADC distance and exact " +
        "score per (query, row) pair, per-query shortlists over a " +
        "shuffle of (query_id, vec_id, adc_d, score), topping out in " +
        "map-side heaps."),
    "q150_ivfpq_delta" ->
      ("Incremental main+delta search (the LSM read path): the q148 " +
        "probe shape against the MAIN-built artifact (one cell-pruned " +
        "scan, ADC shortlist heap, exact top-k heap) UNIONed " +
        "with one exact scan of the small delta, merged by a final " +
        "TakeOrderedAndProject — no join between the sides."),
    "q149_mmr_multi" ->
      ("Multi-query pooled MMR: the query batch broadcasts against ONE " +
        "corpus scan, the per-query top-N pool filter pushes down " +
        "map-side (WindowGroupLimit), and the K-step greedy runs in " +
        "mapGroups over each <= pool-sized group — rerank cost is " +
        "pool-bounded per query, corpus-independent."),
    "q147_sketch_profile" ->
      ("Sketch-only table profiler (q142 without the exact audit): 11 " +
        "single-column pruned scans, then the ENTIRE query is the " +
        "bounded-state typed k-min aggregate — ≤ k distinct hash " +
        "minima per (partition, column) before the one exchange; no " +
        "distinct directory, no window, no join anywhere."),
    "q148_ivfpq_search" ->
      ("Composed IVF-PQ probe: ONE artifact scan carries the cell " +
        "PartitionFilter and gives each row its ADC distance (codes " +
        "against the query's lookup tables) and its exact score; a " +
        "shortlist TakeOrderedAndProject by ADC feeds an exact-score " +
        "TakeOrderedAndProject — one job, no join back onto the cells."),
    "q145_pq_adc" ->
      ("ADC search: per-subspace lookup tables built from the query " +
        "against the fitted codebooks (≤4 entries each); ALL m code " +
        "assignments + LUT lookups are sibling columns of ONE " +
        "projection over ONE corpus scan (PlanSpec pins it: exactly " +
        "one ReadSchema pair — scoring + exact audit — and exactly " +
        "one join, the 10-row audit broadcast after the " +
        "TakeOrderedAndProject top-k)."))

  /** Queries whose RETURNED frame is a bounded driver-side merge BY
    * DESIGN (declared-query determinism): the plan worth pinning is
    * the inner distributed frame they collect — dump that instead. */
  private val innerFrame: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      "q186_batch_served" -> ((s, dir) =>
        new graft.search.SearchEngine(s).batchMainProbeFrame(
          dir, graft.queries.AnnQueries.BatchServedPrompts, 10)),
      "q187_root_batch_served" -> ((s, dir) => {
        // the q187 query's exact construction: resolve the pointer
        // ONCE, then the one-plan batch probe against the epoch dirs
        val root = graft.queries.AnnQueries.servedRootDir(s, dir)
        val (idx, delta) =
          graft.search.AnnIndex.ServingRoot.resolve(s, root)
        new graft.search.SearchEngine(s).batchMainProbeFrame(
          dir, graft.queries.AnnQueries.RootBatchPrompts, 10,
          deltaDir = Some(delta), mainDir = Some(idx))
      }))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb ++= "# PLANS — headline physical plans (regenerated per round)\n\n"
    sb ++= s"`graft.PlanDump` on `$sfDir`; the stated property of every plan " +
      "is also asserted by `PlanSpec`, so a regression fails the build, not " +
      "just this document.\n"
    for ((name, note) <- Headliners) {
      val df = innerFrame.get(name)
        .map(_(spark, sfDir))
        .getOrElse(SparkEntry.queries(name)(spark, sfDir))
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // keep the operator tree + the scan details, drop the long tail of
      // per-node field lists after the first blank-line-separated block
      val trimmed = plan.linesIterator.takeWhile(_.nonEmpty).mkString("\n")
      sb ++= s"\n## $name\n\n$note\n\n```\n$trimmed\n```\n"
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
