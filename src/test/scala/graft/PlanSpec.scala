package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards (SURVEY.md §4): these queries must keep
  * the plans that scale — pushdown reaching the parquet scan, dims
  * broadcast, global top-k as TakeOrderedAndProject (per-partition
  * heaps, no full sort), whole-stage codegen on the scoring path. A
  * regression here can stay correctness-green while becoming a 100 TB
  * disaster, so it is asserted like correctness.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf001).queryExecution.executedPlan.toString

  /** The FINAL adaptive plan, after execution: for joins with no
    * static broadcast hint (the corpus-vocabulary directories of
    * q55/q103/q138 — lmScored's reconciled q90 rule) the strategy is
    * AQE's runtime size gate, so the shape worth pinning is the
    * adaptive final plan, not the initial one. */
  private def finalPlan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** The artifact scans of `p` under the directory named `dir`. */
  private def artifactScans(p: String, dir: String): Seq[String] =
    p.linesIterator.filter(l => l.contains("Scan parquet") && l.contains(dir)).toSeq

  /** The one-pass single-query IVF-PQ probe: the shortlist by ADC is a
    * heap over the scan (TakeOrderedAndProject ordered by adc_d), the
    * exact top-k a second heap over the shortlist (ordered by score),
    * and nothing joins back onto the cells — no BroadcastExchange, no
    * join of any kind. `heaps` counts every TakeOrderedAndProject in
    * the plan (a caller's own top-k merges add to the probe's two). */
  private def assertOnePassProbe(p: String, heaps: Int = 2): Unit = {
    val tops = p.linesIterator.filter(_.contains("TakeOrderedAndProject")).toSeq
    assert(tops.size == heaps &&
      tops.count(_.contains("orderBy=[adc_d")) == 1 &&
      tops.count(_.contains("orderBy=[score")) >= 1,
      s"expected the ADC shortlist heap under an exact-score top-k heap:\n$p")
    assert(!p.contains("Join") && !p.contains("BroadcastExchange"),
      s"the shortlist must never join back onto the cells:\n$p")
  }

  /** The batched one-pass probe's shortlist: a per-query row_number
    * over (adc_d, vec_id) whose exchange carries the scored pair
    * (query_id, vec_id, adc_d, score) only — neither the query vector
    * nor the embedding crosses the shuffle — and no join on `vec_id`
    * anywhere (the corpus side's one join is the broadcast
    * (query × cell) side on `cell`). */
  private def assertBatchShortlist(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val shortlistShuffles = root.collect {
      case e: ShuffleExchangeExec if e.output.exists(_.name == "adc_d") => e
    }
    assert(shortlistShuffles.size == 1 && shortlistShuffles.forall(e =>
      e.output.map(_.name).sorted == Seq("adc_d", "query_id", "score", "vec_id")),
      s"the shortlist shuffle must carry (query_id, vec_id, adc_d, score) only:\n$root")
    val onVecId = root.collect {
      case j: BroadcastHashJoinExec
          if (j.leftKeys ++ j.rightKeys).exists(_.references.exists(_.name == "vec_id")) => j
    }
    assert(onVecId.isEmpty, s"no join on vec_id may feed the shortlist:\n$root")
  }

  test("q3 global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q3_top_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q10 knn plans as TakeOrderedAndProject over the scored scan") {
    val p = plan("q10_knn_exact")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q5 selective predicates reach the parquet scan as pushed filters") {
    val p = plan("q5_filtered_revenue")
    assert(p.contains("PushedFilters") && p.contains("l_discount"),
      s"expected pushed filters in:\n$p")
  }

  test("q2 joins the small dims via broadcast") {
    val p = plan("q2_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q1 prunes the lineitem scan to the referenced columns") {
    val p = plan("q1_pricing_summary")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_shipdate"),
      s"scan should read only referenced columns: $readSchema")
  }

  test("q22 probes via broadcast of the single query row") {
    val p = plan("q22_lsh_bucket_knn")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("scoring path stays inside whole-stage codegen") {
    // AQE finalizes the plan only on execution
    val df = SparkEntry.queries("q10_knn_exact")(spark, sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators carry the "*(stageId)" marker in the final plan
    assert(p.contains("WholeStageCodegen") || p.linesIterator.exists(_.trim.matches("""[+:][- ]+\*\(\d+\).*""")),
      s"no codegen span in:\n$p")
  }

  test("q4 rank filter pushes down as a window group limit") {
    // Spark >= 3.5 plans row_number()<=1 as WindowGroupLimit: each
    // partition keeps one candidate per key before the full window sort
    val p = plan("q4_latest_order_per_customer")
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$p")
  }

  test("q36 range join plans as an equi join on (key, bucket), never a cartesian") {
    val p = plan("q36_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"range join must stay equi-shaped:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"expected a hash-keyed join in:\n$p")
  }

  test("q34 broadcasts the tiny df/stats sides, keeps the corpus un-shuffled until tf agg") {
    val p = plan("q34_bm25_keyword")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      s"expected broadcast of df/corpus-stats in:\n$p")
  }

  test("q11 aggregator shuffles partial top-k, not the scored corpus") {
    // the top-k aggregate must run map-side (partial_) below the exchange
    val p = plan("q11_knn_multi")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(query_id")
    val partialIdx = p.indexOf("partial_topkagg", math.max(exchangeIdx, 0))
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"expected map-side partial top-k under the exchange:\n$p")
  }

  test("q164 both IR-metric arms rank via map-side partial top-k, no window, broadcast-only joins") {
    // final adaptive plan: the metric joins are over <= IrQueries
    // rows with no static hint, so their broadcast conversion is
    // AQE's runtime size gate (same rationale as the q55/q103/q138
    // directory joins above)
    val p = finalPlan("q164_retrieval_metrics")
    // one partial top-k heap per arm (exact ground truth + LSH
    // retrieved) — never a corpus-candidate window, whose per-query
    // keys would funnel each query's full candidate set through one
    // reducer (IrQueries keys = IrQueries reducers, however big the
    // corpus)
    assert("partial_topkagg".r.findAllIn(p).size >= 2,
      s"expected a map-side partial top-k per arm in:\n$p")
    assert(!p.toLowerCase.contains("window"),
      s"no window operator may rank the candidate sets:\n$p")
    assert(!p.contains("SortMergeJoin(") && !p.contains("CartesianProduct"),
      s"no shuffle join may survive AQE on the fixture:\n$p")
  }

  test("q41 broadcasts document frequencies and corpus size, never shuffles tf on term") {
    val p = plan("q41_tfidf_topterms")
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast df join in:\n$p")
  }

  test("q45 top bigrams plan as TakeOrderedAndProject with a partial count below the exchange") {
    val p = plan("q45_bigram_top")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-n heaps in:\n$p")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(bigram")
    val partialIdx = p.indexOf("partial_count", math.max(exchangeIdx, 0))
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"expected map-side partial count under the exchange:\n$p")
  }

  test("q50 repetition signals aggregate map-side before their exchanges") {
    val p = plan("q50_repetition")
    // the per-(doc, tok) count must partial-aggregate below its shuffle
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(doc_id")
    val partialIdx = p.indexOf("partial_count", math.max(exchangeIdx, 0))
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"expected map-side partial count under the doc_id exchange:\n$p")
  }

  test("q35 rank windows keep the non-foldable pmod partition key after optimization") {
    // the post-limit rank windows partition by pmod(doc_id, 1) — constant
    // valued but non-foldable, so WindowExec gets a real partition spec
    // instead of its warn-and-single-partition path. If a future Catalyst
    // rule learns to fold x pmod 1, the partition spec would silently
    // vanish; assert it survives into the optimized plan.
    val df = SparkEntry.queries("q35_hybrid_rrf")(spark, sf001)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("pmod(doc_id"),
      s"rank window lost its pmod partition key (folded?):\n$optimized")
    // physically the pmod is extracted into a `_w0` project alias, so
    // assert the property itself: every WindowExec has a NON-EMPTY
    // partition spec (second bracket group of the Window line)
    val windowLines = df.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.nonEmpty)
    windowLines.foreach { l =>
      assert(l.matches(""".*Window \[.*\], \[[^\]]+\], \[.*"""),
        s"WindowExec fell back to an empty (single-partition) spec: $l")
    }
  }

  test("q52 decontamination probes membership via a hash-keyed equi-join") {
    val p = plan("q52_decontamination")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"membership probe must stay equi-shaped:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"expected a hash-keyed join in:\n$p")
  }

  test("q65 probes the bloom sketch in a filter below the membership join") {
    val p = plan("q65_bloom_decontam")
    val lower = p.toLowerCase
    assert(lower.contains("bloommightcontain"),
      s"expected the broadcast bloom probe in the plan:\n$p")
    // the probe prefilters the corpus side, so in the tree rendering it
    // must appear strictly below (after) the join node that consumes it
    val joinAt = math.max(lower.indexOf("sortmergejoin"),
      math.max(lower.indexOf("shuffledhashjoin"), lower.indexOf("broadcasthashjoin")))
    assert(joinAt >= 0, s"expected a hash-keyed membership join in:\n$p")
    assert(lower.indexOf("bloommightcontain") > joinAt,
      s"bloom probe must sit under the join, not above it:\n$p")
  }

  test("q55 bottom-k plans as TakeOrderedAndProject over the scored docs") {
    val p = plan("q55_unigram_loglik")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k heaps in:\n$p")
  }

  test("q56 knn rank filter pushes down as a window group limit") {
    // row_number() <= k must plan as WindowGroupLimit so each partition
    // keeps k candidates per test vector before the window sort
    val p = plan("q56_knn_vote")
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$p")
  }

  test("q20 emits each pair once: no aggregate (distinct) anywhere in the plan") {
    // the canonical-chunk join predicate replaces pair-set distinct();
    // a HashAggregate reappearing here means the dedup shuffle is back
    val p = plan("q20_simhash")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"q20 must not need a distinct/aggregate after the join:\n$p")
  }

  test("q58 joins the label-by-dim centroid table via broadcast, tops out in heaps") {
    val p = plan("q58_centroid_outliers")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid join must broadcast the tiny label-by-dim side:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k heaps in:\n$p")
  }

  test("q64 containment audit stays equi-shaped and reuses the cached candidate set") {
    // the audit must add one equi-join over the ALREADY-cached LSH
    // candidates + shingle table — no cartesian pair blowup and no
    // fresh tokenization pass over the corpus
    val p = plan("q64_containment_audit")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"audit joins must stay equi-keyed:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory"),
      s"audit should read the session-cached candidate/shingle views:\n$p")
  }

  test("q66 span dedup windows on the chunk hash, rolls up map-side, no pair join") {
    val p = plan("q66_span_dedup")
    // first-occurrence detection is a window over the chunk hash —
    // the ONLY corpus-wide movement besides the final per-doc rollup
    assert(p.contains("windowspecdefinition(h#") || p.contains("partitionBy=[h"),
      s"window must partition by the chunk hash:\n$p")
    // the per-doc rollup must partial-aggregate before its exchange
    assert(p.contains("partial_count") || p.contains("partial count")
      || p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"per-doc rollup should combine map-side:\n$p")
    assert(!p.contains("Join"), s"span dedup needs no join at all:\n$p")
  }

  test("q69 export funnel keeps the bloom probe below the membership join, no cartesian") {
    val p = plan("q69_export_manifest")
    val lower = p.toLowerCase
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"funnel joins must stay equi-keyed:\n$p")
    assert(lower.contains("bloommightcontain"),
      s"expected the broadcast sketch probe in the plan:\n$p")
    val joinAt = math.max(lower.indexOf("sortmergejoin"),
      math.max(lower.indexOf("shuffledhashjoin"), lower.indexOf("broadcasthashjoin")))
    assert(joinAt >= 0 && lower.indexOf("bloommightcontain") > joinAt,
      s"bloom probe must prefilter below the joins, not above:\n$p")
  }

  test("q68 shard manifest is one scan + map-side-combined aggregate, no join") {
    val p = plan("q68_shard_manifest")
    assert(!p.contains("Join"), s"manifest needs no join:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"manifest should scan the corpus exactly once:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"per-shard totals should combine map-side:\n$p")
  }

  test("q72 near-dup join stays bucket-equi-keyed with no pair distinct, tops out in heaps") {
    val p = plan("q72_brp_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"candidates must come from the bucket equi-join:\n$p")
    // the canonical-table predicate replaces the pair-set distinct();
    // an aggregate reappearing between join and top-k means the dedup
    // shuffle is back (MLlib's approxSimilarityJoin shape)
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"q72 must not need a distinct/aggregate after the join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k heaps in:\n$p")
  }

  test("q73 probes the persisted band index with partition pruning on band") {
    val p = plan("q73_band_index_probe")
    // the corpus side must be READ from the saved artifact, not recomputed
    val artifactScans = p.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("graft_band_index")).toSeq
    assert(artifactScans.size >= 2, // bands + shingles
      s"expected the persisted bands+shingles scans in:\n$p")
    // ... and the band-partitioned scan must carry a partition filter
    // (dynamic pruning from the new batch's band keys): the layout that
    // bounds a daily probe's I/O to colliding band directories
    val bandScan = artifactScans.find(_.contains("band#")).getOrElse("")
    assert(bandScan.contains("PartitionFilters: [") &&
      bandScan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on band in:\n$bandScan")
  }

  test("q75 probes the persisted IVF artifact with partition pruning on cell") {
    val p = plan("q75_ivf_index_probe")
    // the corpus must be READ from the saved cell-partitioned artifact
    val scan = p.linesIterator
      .find(l => l.contains("Scan parquet") && l.contains("graft_ivf_index"))
      .getOrElse("")
    assert(scan.nonEmpty, s"expected the persisted IVF corpus scan in:\n$p")
    // ... and the probe's `cell IN (...)` must reach it as a PARTITION
    // filter (directory pruning) — the property that bounds probe I/O
    // to nProbe/cells of a cell-partitioned 100 TB corpus
    assert(scan.contains("PartitionFilters: [") && scan.contains("cell#"),
      s"expected a cell partition filter on the artifact scan in:\n$scan")
  }

  test("q70 vocab coverage has no single-partition window anywhere") {
    // the global rank/cumsum runs as the distributed two-pass shape
    // (RankedCumsum): a WindowExec reappearing here means the
    // one-task-sorts-the-vocab plan is back
    val p = plan("q70_vocab_coverage")
    assert(!p.contains("Window"), s"q70 must not plan a window:\n$p")
  }

  test("q88 dup spans: equi-join on the anchor hash, map-side dup-gram agg, per-doc windows") {
    val p = plan("q88_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the flag-back must stay an equi-join on h:\n$p")
    // the >= 2-docs test must collapse each partition to its distinct
    // grams before the exchange (min/max carry the test, no distinct)
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"dup-gram detection should combine map-side:\n$p")
    // island merging windows by document, never globally
    assert(p.contains("windowspecdefinition(doc_id#"),
      s"island windows must partition by doc_id:\n$p")
  }

  test("q91 epoch slices have no single-partition window anywhere") {
    // the global order + running sum is RankedCumsum's two-pass shape;
    // a WindowExec here means one task sorts the whole corpus again
    val p = plan("q91_epoch_slices")
    assert(!p.contains("Window"), s"q91 must not plan a window:\n$p")
  }

  test("q92 histogram collapses the corpus map-side before one bin-sized exchange") {
    val p = plan("q92_hist_quantiles")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"binning should combine map-side:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"one corpus scan feeds the histogram:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"quantile pick must stay a broadcast theta-join over the tiny directory:\n$p")
  }

  test("q42 packing runs ONE window partitioned by pack_group") {
    val p = plan("q42_packing")
    assert(p.linesIterator.count(l => l.contains("Window ") || l.trim.startsWith("Window")) <= 2,
      s"packing should need a single window pass (plus none hidden):\n$p")
    assert(p.contains("pack_group"), s"window must partition by pack_group:\n$p")
  }

  test("q87 multi-probe reads the IVF artifact with dynamic partition pruning on cell") {
    val p = plan("q87_ivf_multiprobe")
    // the corpus must be READ from the cell-partitioned artifact, with
    // the probed cells arriving via dynamic pruning from the broadcast
    // query side — q75's bounded-I/O property at batch-of-queries shape
    val scan = p.linesIterator
      .find(l => l.contains("Scan parquet") && l.contains("graft_ivf_index"))
      .getOrElse("")
    assert(scan.contains("PartitionFilters: [") && scan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on cell in:\n$scan")
  }

  test("q85 semdedup candidates come from the cell equi-join, never a cartesian") {
    // within-cell pruning is the operator's whole scale story: the
    // cluster count bounds pair volume ONLY if the pair join stays
    // keyed on cell — a cartesian/BNLJ here is the all-pairs plan back
    val p = plan("q85_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pair candidates must come from the cell equi-join:\n$p")
  }

  test("q86 classifier scoring joins the weight table via broadcast only") {
    // the weight table is bounded by the feature space (buckets+1 rows)
    // — a SortMergeJoin here means the corpus-sized feature table pays
    // a shuffle just to look up broadcastable weights
    val p = plan("q86_quality_classifier")
    assert(p.contains("BroadcastHashJoin"),
      s"weight lookup must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no corpus shuffle for the weight join:\n$p")
  }

  test("q79 boilerplate scrub broadcasts the flag-back join, never re-shuffles chunks on h") {
    // the boilerplate set (DF-filtered aggregate output) is the small
    // side by construction; a SortMergeJoin here means the corpus-sized
    // chunk table pays a second hash-shuffle just to learn its flags
    val p = plan("q79_boilerplate_scrub")
    assert(p.contains("BroadcastHashJoin"),
      s"flag-back join must broadcast the boilerplate set:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"chunk table must not re-shuffle for the flag join:\n$p")
  }

  test("q94 temperature mix: ONE corpus aggregation, totals broadcast back") {
    // the only corpus-sized work is the first groupBy(lang); the
    // normalizing totals are ONE row and must come back via broadcast,
    // never a shuffle or cartesian of the domain table
    val p = plan("q94_temperature_mix")
    assert(p.linesIterator.count(_.contains("Scan parquet")) <= 2,
      s"corpus read once per arm at most:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"domain counts must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the one-row totals must broadcast:\n$p")
  }

  test("q95 spectral matvecs keep the term vector broadcast and combine map-side") {
    // the term vector is vocabulary-bounded: its join back into the
    // weight table must be a broadcast, and every matvec groupBy must
    // partial-aggregate before its exchange — a SortMergeJoin against
    // the term vector would shuffle the corpus-sized weight table per
    // iteration
    val p = plan("q95_spectral_terms")
    assert(p.contains("BroadcastHashJoin"),
      s"term-vector join must broadcast:\n$p")
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"matvec sums must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere in the iteration:\n$p")
  }

  test("q98 rank ensemble has no single-partition window anywhere") {
    // all four global ranks are RankedCumsum.scoreRank two-pass ranks;
    // a WindowExec here means one task sorts the whole corpus
    val p = plan("q98_rank_ensemble")
    assert(!p.contains("Window"), s"q98 must not plan a window:\n$p")
  }

  test("q96 HLL registers combine map-side; raw rows never shuffle") {
    // max(rho) absorbs duplicates in the map phase — the ONLY data
    // crossing an exchange is register tables (bounded by
    // m × days × types), which is the entire point of HLL at scale.
    // A distinct() or raw-row exchange here would move the corpus.
    val p = plan("q96_hll_distinct")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial_max")),
      s"register build must be a partial max:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"estimate joins are domain-bounded and must broadcast:\n$p")
  }

  test("q103 moore-lewis: AQE gates the LM-table joins to broadcast, top-k heaps") {
    // the count directories carry NO static hint (corpus-vocabulary-
    // sized — the reconciled q90 rule): on the fixture AQE's runtime
    // size gate must still FINALIZE them as broadcast joins, and the
    // selection must be per-partition heaps, not a global sort
    val p = finalPlan("q103_moore_lewis")
    assert(p.contains("BroadcastHashJoin"),
      s"fixture vocabulary joins must finalize as broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"selection must be top-k heaps:\n$p")
    assert(!p.contains("SortMergeJoin(") && !p.contains("CartesianProduct"),
      s"no corpus-shuffling join may survive AQE:\n$p")
  }

  test("q104 zipf fit: one wordcount exchange, head via top-k heaps") {
    // the corpus collapses to the vocabulary in the first (map-side
    // combined) aggregation; the head is TakeOrderedAndProject; the
    // OLS runs over <= ZipfHeadN rows so nothing after may shuffle
    val p = plan("q104_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"),
      s"head must be per-partition heaps:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"wordcount must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"post-head arithmetic is bounded and broadcast-joined:\n$p")
  }

  test("q106 allocation: one corpus aggregation, rounds as bounded windows") {
    // the corpus is read/aggregated once (per cache arm); the three
    // re-distribution rounds are whole-frame window aggregates over
    // the 5-row domain table in ONE linear plan — no join of any kind
    // after the domain groupBy (the pre-r18 crossJoin-of-1-row-agg
    // fold doubled the executed plan every round), and exactly one
    // aggregation of the enrichment table feeds the whole query
    val p = plan("q106_epoch_alloc")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"domain token counts must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
      s"rounds must be windows over the domain table, not joins:\n$p")
    assert(p.contains("Window"),
      s"round totals must be window aggregates:\n$p")
  }

  test("q109 anova: corpus collapses to the source directory map-side") {
    // the only corpus-sized work is the per-source aggregation; the
    // totals are ONE row broadcast back (q94's shape) — a shuffle or
    // sort-merge of anything after the first groupBy means the
    // variance decomposition moved the corpus twice
    val p = plan("q109_source_anova")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"source sums must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"totals must broadcast:\n$p")
  }

  test("q110 ks drift: one corpus pass into the bounded bin directory") {
    // binning and split flags are row-local; the corpus collapses
    // map-side into the value-range-bounded bin directory, and the
    // ECDF windows run on that directory with a real (non-foldable
    // constant) partition spec — no single-partition corpus window,
    // no corpus-sized join
    val p = plan("q110_ks_drift")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"bin counts must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"directory joins must broadcast:\n$p")
  }

  test("q111 zorder: corpus collapses to the z-directory map-side, no corpus window") {
    // bucketize + interleave are row-local arithmetic against one
    // broadcast extent row; the ONLY corpus-sized exchange is the
    // partial-combined groupBy into the ≤2^16-row z-directory; the
    // cumsum windows then run on the layout-melted directory
    // (partitioned by layout) — never on rows. Exactly TWO corpus
    // scans: the extent row + the directory build — both layouts melt
    // from ONE directory subtree (the per-layout union re-ran it)
    val p = plan("q111_zorder_layout")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"z-directory must combine map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"extent row must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing may shuffle-join rows:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"both layouts must carve ONE shared directory (2 scans only):\n$p")
  }

  test("q114 cdc apply: keyed snapshots, user-partitioned windows, no global sort") {
    // each snapshot is one row_number window PARTITIONED BY user_id
    // (millions of small groups at scale); the merge path unions the
    // 1-row-per-user base with the delta — no global sort anywhere
    // before the final presentation orderBy
    val p = plan("q114_cdc_apply")
    assert(p.contains("Window"), s"latest-wins needs the keyed window:\n$p")
    assert(p.contains("user_id"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q115 winnowing: fingerprint extraction row-local, pair join shuffles on fp") {
    // the positional hash + window-min + distinct are all inside the
    // projection (no pre-join shuffle of anything but the fingerprint
    // rows themselves); the pair-generating join must be EQUI-keyed on
    // the fingerprint (vocabulary-bounded like the q52 shingle join —
    // the tiny fixture broadcasts it, real statistics shuffle it) and
    // must never degenerate into a cartesian with the < predicate as
    // a post-filter
    val p = plan("q115_winnowing")
    assert(p.linesIterator.exists(l =>
        l.contains("Join") && l.contains("[fp#")),
      s"pair join must be keyed on the fingerprint:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fp equality must be the join key, not a filter:\n$p")
  }

  test("q117 auc: no pairwise join, no window — rank via the two-pass RDD shape") {
    // the naive AUC is a P·N pairwise comparison; the plan must show
    // neither a cartesian nor ANY window (the rank is RankedCumsum's
    // range-partitioned two-pass, which surfaces as an RDD scan), and
    // the score directory must combine map-side
    val p = plan("q117_classifier_auc")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), s"rank must not use a window:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"score directory must combine map-side:\n$p")
  }

  test("q118 vocab richness: pure aggregation cascade, map-side combined, no joins") {
    val p = plan("q118_vocab_richness")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"frequency-of-frequencies needs no join:\n$p")
    assert(!p.contains("Window"), p)
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"token counts must combine map-side:\n$p")
  }

  test("q119 concurrency: keyed session windows, bounded sweep, top-k fused") {
    // the per-user sessionization window must be PARTITIONED (user_id
    // groups); the sweep cumsum runs on the bounded minute directory;
    // the peak report must fuse into TakeOrderedAndProject — and the
    // interval-overlap self-join must not exist
    val p = plan("q119_session_concurrency")
    assert(p.contains("user_id"), p)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-5 must fuse sort+limit:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no interval self-join may exist:\n$p")
  }

  test("q120 kappa: id-keyed joins only, one-row confusion matrix combines map-side") {
    val p = plan("q120_lens_kappa")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"confusion counts must combine map-side:\n$p")
  }

  test("q121 knn eval: label directories broadcast-join, no shuffle join") {
    // the eval layers two tiny (≤ #classes) aggregations over q56's
    // broadcast-probe plan; the directory join must broadcast and no
    // sort-merge join may appear anywhere
    val p = plan("q121_knn_confusion")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"label join must broadcast:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"label counts must combine map-side:\n$p")
  }

  test("q122 dup flows: cell rollup combines map-side, total broadcasts back") {
    val p = plan("q122_dup_flows")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"one-row total must broadcast:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"cell counts must combine map-side:\n$p")
  }

  test("q123 signal corr: one-row matrix aggregate combines map-side, no cartesian") {
    val p = plan("q123_signal_corr")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"moment sums must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin") ||
      p.linesIterator.count(_.contains("SortMergeJoin")) <= 3,
      s"only the doc_id-keyed signal joins may shuffle:\n$p")
  }

  test("q124 component split: keyed component rollup, one-row aggregates broadcast") {
    val p = plan("q124_component_split")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"one-row aggregates must meet via broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"split counts must combine map-side:\n$p")
  }

  test("q125 hilbert: directory collapses map-side before any curve arithmetic") {
    // the 8 hilbert projection steps must run on the post-groupBy
    // directory, never on corpus rows: one partial HashAggregate
    // below, no join of corpus rows, no cartesian beyond the one-row
    // extent broadcast. Exactly TWO corpus scans: extent + directory —
    // all three layouts melt from ONE directory subtree
    val p = plan("q125_hilbert_layout")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"bucket directory must combine map-side:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"extent row must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing may shuffle-join rows:\n$p")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2,
      s"all three layouts must carve ONE shared directory (2 scans only):\n$p")
  }

  test("q126 kmv set ops: per-group top-K prunes before the sort, no cartesian") {
    // the sketch build must plan as WindowGroupLimit (each partition
    // keeps K candidates before the window sort); the K-sized sketch
    // pair join may broadcast-nest but nothing may cartesian corpus
    // rows
    val p = plan("q126_kmv_setops")
    assert(p.contains("WindowGroupLimit"),
      s"top-K must prune partitions before the sort:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"distinct passes must combine map-side:\n$p")
  }

  test("q127 skew profile: no window at all — the rank is the two-pass RDD shape") {
    val p = plan("q127_skew_profile")
    assert(!p.contains("Window"), s"rank must not use a window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"key counts must combine map-side:\n$p")
  }

  test("q128 funnel: one keyed window chain, no self-join of events") {
    // the naive funnel is a k-way self-join on user_id; the plan must
    // instead show user-partitioned windows and NO join at all before
    // the 3-row report union
    val p = plan("q128_funnel")
    assert(p.contains("Window") && p.contains("user_id"), p)
    assert(!p.contains("Join"), s"no event self-join may exist:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"per-user rollup must combine map-side:\n$p")
  }

  test("q129 retention: user-keyed join, map-side matrix, broadcast sizes") {
    val p = plan("q129_retention")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"cohort sizes must broadcast:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"matrix cells must combine map-side:\n$p")
  }

  test("q130 anomaly: corpus collapses map-side, windows keyed by group") {
    val p = plan("q130_daily_anomaly")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"day counts must combine map-side:\n$p")
    assert(p.contains("Window") && p.contains("grp"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
  }

  test("q131 transitions: keyed lead window, map-side matrix, broadcast row totals") {
    val p = plan("q131_event_transitions")
    assert(p.contains("Window") && p.contains("user_id"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"row totals must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"matrix cells must combine map-side:\n$p")
  }

  test("q132 latency: bounded directory windows, broadcast quantile table") {
    val p = plan("q132_conversion_latency")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"quantile table must broadcast:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"latency directory must combine map-side:\n$p")
  }

  test("q116 bootstrap: replicate fan-out combines map-side before the exchange") {
    // the ×B explode must collapse to (source, rep) partials inside
    // the map stage — the exchange carries sources×B rows, not
    // corpus×B; final CI arithmetic joins small tables via broadcast
    val p = plan("q116_bootstrap_ci")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"replicate sums must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"directory joins must broadcast:\n$p")
  }

  test("q133/q134 sketch cutpoints: windows on the bounded directory, cuts broadcast back") {
    // the whole point of the sketch variants is NO corpus sort: the
    // only windows allowed are per-lang cumulatives over the
    // histogram DIRECTORY (post-aggregate), and the ≤|langs|-row
    // cutpoint table must come back as a broadcast join — a
    // SortMergeJoin or a non-lang window means the corpus moved
    for (q <- Seq("q133_trim_sketch", "q134_ccnet_sketch")) {
      // final adaptive plan: q134 consumes lmScored, whose unhinted
      // vocabulary join AQE must gate to broadcast on the fixture
      val p = finalPlan(q)
      assert(p.contains("windowspecdefinition(lang#"),
        s"$q windows must partition by lang:\n$p")
      assert(!p.contains("SortMergeJoin(") && !p.contains("CartesianProduct"),
        s"$q cut table must broadcast:\n$p")
      assert(p.linesIterator.exists(l =>
          l.contains("HashAggregate") && l.contains("partial_count")),
        s"$q histogram must combine map-side:\n$p")
    }
  }

  test("q135 serpentine shards: two-pass rank (no Window), map-side K-row manifest") {
    val p = plan("q135_token_shards")
    assert(!p.contains("Window"), s"rank must be the two-pass shape, not a window:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial")),
      s"manifest must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"rank join must stay equi-keyed:\n$p")
  }

  test("q136/q137 decode paths are row-local: no join, no window, blobs never shuffle") {
    for (q <- Seq("q136_image_pool", "q137_audio_downsample")) {
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("Window"),
        s"$q must be row-local decode + sort:\n$p")
    }
  }

  test("q138 KL: one corpus exchange, AQE gates the directory join to broadcast") {
    // the C_w directory join carries NO static hint (the reconciled
    // q90 rule); on the fixture AQE must finalize it as a broadcast
    val p = finalPlan("q138_source_kl")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastQueryStage"),
      s"global counts must finalize as broadcast:\n$p")
    assert(!p.contains("SortMergeJoin(") && !p.contains("CartesianProduct"),
      s"no shuffle join may survive AQE on the fixture:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial_count")),
      s"(source, tok) counts must combine map-side:\n$p")
  }

  test("q139 diversity: vocabulary-bounded directories, broadcast rollup join") {
    val p = plan("q139_distinct_ngrams")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the two per-lang rollups must broadcast-join:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("HashAggregate") && l.contains("partial_count")),
      s"(lang, gram) counts must combine map-side:\n$p")
    assert(!p.contains("Window"), s"no window anywhere:\n$p")
  }

  test("q141 profile branches prune to single-column parquet scans") {
    val p = plan("q141_table_profile")
    // every lineitem scan must read exactly ONE column — a struct with
    // a comma in ReadSchema means a branch dragged extra columns
    val schemas = p.linesIterator.filter(_.contains("ReadSchema: struct<")).toSeq
    assert(schemas.nonEmpty, s"expected parquet scans:\n$p")
    schemas.foreach { l =>
      val s = l.substring(l.indexOf("ReadSchema: struct<"))
      assert(!s.takeWhile(_ != '>').contains(","),
        s"profile branch reads more than one column: $s")
    }
    assert(!p.contains("SortMergeJoin"), s"16-row profile join must broadcast:\n$p")
  }

  test("q142 KMV profile: k-min sketch is a bounded-state partial aggregate, scans pruned") {
    val p = plan("q142_profile_sketch")
    // the sketch side must be the typed aggregator with map-side
    // partial state (≤ k minima per partition) — a Window/
    // WindowGroupLimit here means the distinct-directory formulation
    // (exact-profiler cost on key columns) crept back
    assert(p.linesIterator.exists(l =>
        l.contains("ObjectHashAggregate") &&
          l.contains("partial_graft_kmin_distinct")),
      s"expected partial kMinDistinct aggregate in:\n$p")
    assert(!p.contains("AppendColumns"),
      s"sketch input must stay in the row format (no typed round-trip):\n$p")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window("),
      s"no window formulation for the sketch:\n$p")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema: struct<")).toSeq
    assert(schemas.nonEmpty && schemas.forall { l =>
      !l.substring(l.indexOf("ReadSchema: struct<")).takeWhile(_ != '>').contains(",")
    }, s"profile branches must stay single-column:\n$p")
    assert(!p.contains("SortMergeJoin"), s"11-row join must broadcast:\n$p")
  }

  test("q149 multi-query MMR: map-side pool limit, broadcast queries, pool-bounded greedy") {
    val p = plan("q149_mmr_multi")
    // the per-query top-N rank filter must push down map-side — the
    // shuffle then carries <= queries × pool rows, not the scored
    // corpus (the q4/q56 WindowGroupLimit property)
    assert(p.contains("WindowGroupLimit"),
      s"pool rank filter must push down map-side:\n$p")
    // the query batch broadcasts against the corpus scan; the greedy
    // is mapGroups over the pooled rows — no further corpus work
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query batch must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus must never shuffle-join:\n$p")
    assert(p.contains("MapGroups"), s"greedy must run in mapGroups:\n$p")
  }

  // the name predates the one-pass probe: one scan, both top-k heaps, no join
  test("q148 IVF-PQ: cell-pruned scans, codes-only ADC scan, shortlist-bounded rescore") {
    val p = plan("q148_ivfpq_search")
    val scans = artifactScans(p, "graft_ivfpq_index")
    assert(scans.size == 1, s"expected ONE artifact scan:\n$p")
    // the scan prunes to the probed cells via the partition column
    scans.foreach(l => assert(
      l.contains("PartitionFilters: [") && l.contains("cell#"),
      s"artifact scan must partition-prune on cell: $l"))
    // shortlist + final top-k are per-partition heaps stacked over the
    // one scan — the exact score rides each row, so nothing rescans
    assertOnePassProbe(p)
  }

  test("q165 served search: payload fetch is pushed-down point lookups + broadcast of the k hits") {
    // the probe half of the served route executes eagerly inside
    // searchIndexed and has exactly q148's plan (pinned above — same
    // probeIvfPq call, same artifact); what q165's RETURNED plan must
    // pin is the payload fetch: the k hit ids reach the documents
    // parquet scan as a PushedFilter (point lookups — at 100 TB the
    // fetch reads the row groups holding k docs, never the table) and
    // the k-row score table broadcasts, with no shuffle anywhere
    val p = plan("q165_served_search")
    val docScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("documents")).getOrElse(
      fail(s"no documents scan in served plan:\n$p"))
    assert(docScan.contains("PushedFilters: [In(doc_id"),
      s"hit ids must push into the documents scan: $docScan")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin") &&
      !p.contains("Exchange hashpartitioning"),
      s"k-row score table must broadcast, nothing may shuffle:\n$p")
  }

  test("q172 tombstone-aware LSM probe: anti-joined dead ids, pruned segments, no SMJ") {
    val p = plan("q172_lsm_delete")
    // the tombstone shadow is a broadcast ANTI-join applied before any
    // ranking — a post-limit filter would under-fill the top-k
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"tombstones must anti-join broadcast-side:\n$p")
    // the MAIN artifact scans are cell-partition-pruned by the shared
    // cell ranking; the DELTA scans deliberately are NOT — last-writer
    // -wins must see every cell (a re-ingested doc's newest version
    // can land in a different cell than its stale row, and pruning
    // before the window would serve the stale one), and the delta is
    // small by the q150 contract
    val mainScans = p.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("graft_ivfpq_index")).toSeq
    assert(mainScans.nonEmpty && mainScans.forall(l =>
      l.contains("PartitionFilters: [") && l.contains("cell#")),
      s"main artifact scans must prune on cell:\n${mainScans.mkString("\n")}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"probe joins must broadcast:\n$p")
  }

  test("q173 served delete lifecycle: payload fetch stays pushed-down point lookups") {
    val p = plan("q173_served_delete")
    val docScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("documents")).getOrElse(
      fail(s"no documents scan in served plan:\n$p"))
    assert(docScan.contains("PushedFilters: [In(doc_id"),
      s"hit ids must push into the documents scan: $docScan")
    // the only exchanges allowed: the final ≤k-row range sort plus the
    // SMALL delta side's two (the LWW window's doc_id hash and the
    // tombstone max-batch aggregate — both over delta-bounded rows,
    // the q150 contract); the corpus side must never shuffle and no
    // join may sort-merge
    assert(!p.contains("SortMergeJoin"),
      s"the served merge's joins must broadcast:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2,
      s"only the delta LWW window + tombstone agg may hash-exchange, found $hashEx:\n$p")
  }

  test("q174 refit gauge: one corpus scan, one conditional aggregate, no join") {
    val p = plan("q174_refit_gauge")
    val scans = p.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("embeddings")).toSeq
    assert(scans.size == 1,
      s"the gauge must fold in ONE corpus pass, found ${scans.size}:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"the gauge is scan + aggregate only:\n$p")
  }

  test("q175 post-fold probe keeps q148's shape against the folded artifact") {
    val p = plan("q175_major_fold")
    val scans = artifactScans(p, "graft_folded_index")
    assert(scans.size == 1, s"expected ONE folded-artifact scan:\n$p")
    scans.foreach(l => assert(
      l.contains("PartitionFilters: [") && l.contains("cell#"),
      s"folded scan must partition-prune on cell: $l"))
    // the fold must not change the probe's plan family
    assertOnePassProbe(p)
  }

  test("q176 evolving eval: probes stay pruned and broadcast; ground truth heaps map-side") {
    // the ≤ 7-row metric frames carry explicit broadcast hints, so the
    // static plan already shows the right joins
    val p = plan("q176_evolving_eval")
    // ONE batched probe serves the whole query set (the per-query
    // top-k tops out in map-side heaps); the ground truth reads the
    // session-cached exact table instead of re-scanning the corpus
    assert(p.contains("partial_topkagg"),
      s"the batched probe's per-query top-k must combine map-side:\n$p")
    assert(p.contains("graft_cache_evolving_rel"),
      s"ground truth must read the session-cached table:\n$p")
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"tombstones must anti-join inside the probe branches:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"eval joins must broadcast (AQE final plan):\n$p")
  }

  // the name predates the one-pass probe: the probe half pins ONE filtered scan
  test("q177 served filter: label pushed under the cell pruning on both artifact scans") {
    val p = plan("q177_served_filtered")
    // the filter rode the probe (which executed eagerly); the RETURNED
    // plan is the payload fetch — point lookups, broadcast, no shuffle
    val docScan = p.linesIterator.find(l =>
      l.contains("Scan parquet") && l.contains("documents")).getOrElse(
      fail(s"no documents scan in served plan:\n$p"))
    assert(docScan.contains("PushedFilters: [In(doc_id"),
      s"hit ids must push into the documents scan: $docScan")
    assert(!p.contains("Exchange hashpartitioning"),
      s"nothing may shuffle in the served fetch:\n$p")
    // and the probe half's pre-filter property on the artifact itself:
    // build the same filtered probe and pin the label PushedFilter
    // under the cell PartitionFilter on its one scan (q152's two
    // bounds, now reachable from the service surface)
    val probe = graft.search.AnnIndex.probeIvfPq(spark,
      graft.queries.AnnQueries.ivfPqIndexDir(spark, sf001),
      new graft.search.HashingEmbedder(64)
        .embed(graft.queries.AnnQueries.ServedPrompt),
      k = 10, nProbe = graft.queries.AnnQueries.IvfNProbe,
      shortlist = graft.queries.AnnQueries.ServedShortlist,
      predicate = org.apache.spark.sql.functions.col("label") ===
        graft.queries.AnnQueries.FilterLabel)
      .queryExecution.executedPlan.toString
    val scans = artifactScans(probe, "graft_ivfpq_index")
    assert(scans.size == 1 && scans.forall(l =>
      l.contains("PartitionFilters: [") && l.contains("cell#") &&
        l.contains(s"EqualTo(label,${graft.queries.AnnQueries.FilterLabel})")),
      s"label must push under the cell pruning on the one scan:\n${scans.mkString("\n")}")
    assertOnePassProbe(probe)
  }

  // the name predates the one-pass probe: one DPP-pruned scan, no join-back;
  // the shortlist window itself is not limited (1,300 is above the threshold)
  test("q151 batched IVF-PQ: DPP on both artifact reads, codes-only ADC, limited shortlist") {
    val df = SparkEntry.queries("q151_ivfpq_multiprobe")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    // dedup by scan body: the DPP subquery echoes its build subtree in
    // the dump, so the scan can print twice from one node
    val scans = artifactScans(p, "graft_ivfpq_index")
      .map(l => l.substring(l.indexOf("FileScan"))).distinct
    assert(scans.size == 1, s"expected ONE artifact scan:\n$p")
    // the artifact read prunes to the union of probed cells via
    // dynamic partition pruning from the broadcast query side
    scans.foreach(l => assert(
      l.contains("PartitionFilters: [") && l.contains("dynamicpruning"),
      s"artifact scan must DPP-prune on cell: $l"))
    // the per-query cell rank pushes down map-side
    assert(p.contains("WindowGroupLimit"),
      s"cell rank must be window-group-limited:\n$p")
    assertBatchShortlist(df)
    // exact top-k via the map-side partial top-k aggregate, never a
    // corpus-wide window over scored candidates
    assert(p.contains("partial_topkagg"),
      s"per-query top-k must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"all joins must broadcast:\n$p")
  }

  // the name predates the one-pass probe: ONE pruned, label-filtered scan
  test("q152 filtered IVF-PQ: label pushed into both pruned scans, codes-only ADC") {
    val p = plan("q152_filtered_ivfpq")
    val scans = artifactScans(p, "graft_ivfpq_index")
    assert(scans.size == 1, s"expected ONE artifact scan:\n$p")
    scans.foreach { l =>
      // partition pruning on cell AND the metadata predicate reaching
      // the parquet reader as a pushed data filter — the pre-filter
      // strategy's two I/O bounds
      assert(l.contains("PartitionFilters: [") && l.contains("cell#"),
        s"artifact scan must partition-prune on cell: $l")
      assert(l.contains(s"EqualTo(label,${graft.queries.AnnQueries.FilterLabel})"),
        s"label predicate must reach the reader as a PushedFilter: $l")
    }
    assertOnePassProbe(p)
  }

  // the name predates the one-pass probe: one scan per segment, no shortlist join
  test("q153 compaction: both segments cell-pruned, codes-only ADC on each, one shortlist join") {
    val p = plan("q153_ivfpq_compact")
    val main = artifactScans(p, "graft_ivfpqmain_index")
    val seg = artifactScans(p, "graft_ivfpqdelta_segment")
    // each segment is scanned ONCE — ADC distance and exact score side
    // by side — and both scans partition-prune on cell (q150's exact
    // full delta scan is retired; the delta reads nProbe/cells of its
    // directories like any indexed segment)
    assert(main.size == 1 && seg.size == 1,
      s"expected 1 main + 1 delta-segment scan:\n$p")
    (main ++ seg).foreach(l => assert(
      l.contains("PartitionFilters: [") && l.contains("cell#"),
      s"segment scan must partition-prune on cell: $l"))
    assert(p.contains("Union"), s"segments must union, not join:\n$p")
    // one shortlist heap ranks the union, one exact top-k heap over it
    assertOnePassProbe(p)
  }

  test("q154 residual IVF-PQ: q148's plan shape over the residual artifact") {
    val p = plan("q154_ivfpq_residual")
    val scans = artifactScans(p, "graft_ivfpqres_index")
    assert(scans.size == 1, s"expected ONE residual-artifact scan:\n$p")
    scans.foreach(l => assert(
      l.contains("PartitionFilters: [") && l.contains("cell#"),
      s"artifact scan must partition-prune on cell: $l"))
    // the per-(cell, code) lookup tables are literals indexed by the
    // partition column — row-local in the one scan, no join
    assertOnePassProbe(p)
  }

  test("q155 perceptual-hash dedup: one band equi-join, no pair enumeration, blobs stay put") {
    val p = plan("q155_image_phash")
    // candidate generation is ONE equi-join on the exploded
    // (band_idx, band_val) key — never an all-pairs comparison
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must come from the band equi-join:\n$p")
    assert(p.linesIterator.count(l =>
        l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("SortMergeJoin")) == 1,
      s"exactly one band-key join expected (not one per band):\n$p")
    // the binary blobs are decoded where they are read: no Exchange
    // carries a binary column — only (doc_id, band longs) ever move
    p.linesIterator.filter(_.contains("Exchange")).foreach(l =>
      assert(!l.contains("blob"), s"blobs must never shuffle: $l"))
  }

  test("q156 audio fingerprint dedup: q155's banded shape over one cached decode") {
    val p = plan("q156_audio_fingerprint")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must come from the band equi-join:\n$p")
    assert(p.linesIterator.count(l =>
        l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("SortMergeJoin")) == 1,
      s"exactly one band-key join expected:\n$p")
    // both join arms must read the SAME session-cached fingerprint
    // table — the decode-once receipt in plan form
    assert(p.linesIterator.count(l => l.contains("InMemoryTableScan") ||
        l.contains("Scan In-memory table")) >= 2,
      s"both arms should scan the cached fingerprint view:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach(l =>
      assert(!l.contains("blob"), s"blobs must never shuffle: $l"))
  }

  test("q157 video near-dup: anchor band join + doc-keyed verify joins, no pair enumeration") {
    val p = plan("q157_video_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the frame-0 band equi-join:\n$p")
    // one band join (candidates) + two doc-keyed joins (aligned verify)
    assert(p.linesIterator.count(l =>
        l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("SortMergeJoin")) == 3,
      s"band join + two verify joins expected:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("Scan In-memory table"),
      s"the per-frame hash table must come from the session cache:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach(l =>
      assert(!l.contains("blob"), s"blobs must never shuffle: $l"))
  }

  test("q158 probes the persisted phash index; the corpus is never re-decoded") {
    val p = plan("q158_phash_index_probe")
    // the indexed corpus side must be READ from the saved artifact
    assert(p.linesIterator.exists(l =>
        l.contains("Scan parquet") && l.contains("graft_phash_index")),
      s"expected the persisted phash band scan in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe candidates must come from the band equi-join:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach(l =>
      assert(!l.contains("blob"), s"blobs must never shuffle: $l"))
  }

  test("q169 probes static index + graduated store from parquet; no decode, no all-pairs") {
    val p = plan("q169_phash_ingest_lsm")
    // BOTH index sides must be READ back: the static artifact and the
    // SegmentStore generation the graduation folded
    assert(p.linesIterator.exists(l =>
        l.contains("Scan parquet") && l.contains("graft_phash_index")),
      s"expected the static phash band scan in:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("Scan parquet") && l.contains("graft_phash_lsm")),
      s"expected the graduated SegmentStore scan in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe candidates must come from the band equi-join:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach(l =>
      assert(!l.contains("blob"), s"blobs must never shuffle: $l"))
  }

  test("q170 probes static afp index + graduated store from parquet; no decode, no all-pairs") {
    val p = plan("q170_afp_ingest_lsm")
    assert(p.linesIterator.exists(l =>
        l.contains("Scan parquet") && l.contains("graft_afp_index")),
      s"expected the static afp band scan in:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("Scan parquet") && l.contains("graft_afp_lsm")),
      s"expected the graduated SegmentStore scan in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe candidates must come from the band equi-join:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach(l =>
      assert(!l.contains("blob"), s"blobs must never shuffle: $l"))
  }

  test("q171 probes static vphash tables + graduated stores; no decode, no all-pairs") {
    val p = plan("q171_vphash_ingest_lsm")
    assert(p.linesIterator.exists(l =>
        l.contains("Scan parquet") && l.contains("graft_vphash_index")),
      s"expected the static vphash table scans in:\n$p")
    assert(p.linesIterator.exists(l =>
        l.contains("Scan parquet") && l.contains("graft_vphash_lsm")),
      s"expected the graduated SegmentStore scans in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the anchor band equi-join:\n$p")
    p.linesIterator.filter(_.contains("Exchange")).foreach(l =>
      assert(!l.contains("blob"), s"blobs must never shuffle: $l"))
  }

  test("q162 broadcasts the benchmark side and partial-maxes below the exchange") {
    val p = plan("q162_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the benchmark side must broadcast:\n$p")
    // the per-vector max must fold map-side: partial_max under the
    // vec_id exchange, so the shuffle carries one row per vector, not
    // corpus × benchmark scored rows
    val exchangeIdx = p.indexOf("Exchange hashpartitioning(vec_id")
    val partialIdx = p.indexOf("partial_max", math.max(exchangeIdx, 0))
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"expected map-side partial max under the exchange:\n$p")
  }

  test("q163 paraphrase candidates come from the bucket equi-join, never all-pairs") {
    val p = plan("q163_paraphrase_mining")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must come from the sign-LSH bucket equi-join:\n$p")
  }

  test("q150 main+delta search: pruned main artifact, exact delta scan, top-k merge") {
    val p = plan("q150_ivfpq_delta")
    // main side = the q148 shape against the MAIN-built artifact: one
    // cell-pruned scan
    val scans = artifactScans(p, "graft_ivfpqmain_index")
    assert(scans.size == 1, s"expected ONE main-artifact scan:\n$p")
    scans.foreach(l => assert(
      l.contains("PartitionFilters: [") && l.contains("cell#"),
      s"main-artifact scan must partition-prune on cell: $l"))
    // the delta side is one exact scan of the fixture embeddings; the
    // sides merge with a Union of two top-k's — no join between them
    assert(p.contains("Union"), s"expected the main/delta top-k merge:\n$p")
    // every top-k is a per-partition heap: the probe's two, the delta
    // side's one and the merge's one
    assertOnePassProbe(p, heaps = 4)
  }

  test("q147 sketch-only profile: bounded-state partial aggregate, no join, no window") {
    val p = plan("q147_sketch_profile")
    // past the pruned scans the WHOLE query is the typed k-min
    // aggregate: partial state ≤ k distinct minima per (partition,
    // column) before the one exchange — no distinct directory, no
    // window, and (unlike q142's audited form) no join at all
    assert(p.linesIterator.exists(l =>
        l.contains("ObjectHashAggregate") &&
          l.contains("partial_graft_kmin_distinct")),
      s"expected partial kMinDistinct aggregate in:\n$p")
    assert(!p.contains("AppendColumns"),
      s"sketch input must stay in the row format (no typed round-trip):\n$p")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window("),
      s"no window formulation for the sketch:\n$p")
    assert(!p.contains("Join"), s"sketch-only form joins nothing:\n$p")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema: struct<")).toSeq
    assert(schemas.nonEmpty && schemas.forall { l =>
      !l.substring(l.indexOf("ReadSchema: struct<")).takeWhile(_ != '>').contains(",")
    }, s"profile branches must stay single-column:\n$p")
  }

  test("q145 ADC scores in one projection over one scan: no join on the corpus path") {
    val p = plan("q145_pq_adc")
    // all m per-subspace code assignments + LUT lookups are sibling
    // columns of one projection, so the ONLY join in the plan is the
    // 10-row exact-audit broadcast AFTER the ADC top-k (round-11
    // verdict: the m-way vec_id self-join planned as corpus-sided
    // BroadcastHashJoins that only broadcast at fixture scale)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 1,
      s"exactly one (audit) join allowed:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"ADC scoring must never shuffle-join the corpus:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"ADC top-k must be per-partition heaps:\n$p")
    // the corpus is scanned exactly twice: the ADC scoring projection
    // and the exact-audit top-10 (codebook fits are separate bounded
    // jobs, not part of this plan)
    assert(p.linesIterator.count(_.contains("ReadSchema")) == 2,
      s"expected exactly two corpus scans:\n$p")
  }

  test("q107 weighted sample plans as ONE top-k over the cached scan") {
    // the entire query must be row-local expressions + per-partition
    // heaps: any exchange before the TakeOrderedAndProject means the
    // corpus moved to be sampled
    val p = plan("q107_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"sample must be top-k heaps:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no join anywhere — key computation is row-local:\n$p")
  }

  test("q183 audio rebuild probe: the fresh generation alone — no store read, no marker shadow") {
    val p = plan("q183_afp_rebuild")
    // the partner side reads the rebuilt static generation ONLY; the
    // candidate side reads the fixture documents (the cached decode
    // view's build plan echoes its scan). A segment-store read or a
    // marker anti-join would mean the rebuild didn't retire the
    // lifecycle cost (q182's pinned property, completed for the trio)
    val scans = p.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.exists(_.contains("graft_afp_rebuild")),
      s"the rebuilt generation must be scanned:\n${scans.mkString("\n")}")
    assert(scans.forall(l =>
      l.contains("graft_afp_rebuild") || l.contains("documents.parquet")),
      s"no store segment may be read post-rebuild:\n${scans.mkString("\n")}")
    assert(!p.contains("LeftAnti"),
      s"no marker shadow anti-join may survive the rebuild:\n$p")
  }

  test("q185 root-served search keeps the q173 probe shape behind the pointer") {
    // the probe half executed eagerly against the pointer-resolved
    // epoch artifact; the RETURNED plan is the payload fetch and must
    // keep q173's properties — point-lookup pushdown, broadcast merge,
    // no sort-merge join, no corpus-side shuffle
    val p = plan("q185_root_served")
    assert(p.linesIterator.exists(l =>
      l.contains("Scan parquet") && l.contains("PushedFilters: [In(")),
      s"hit ids must push into the payload scans as point lookups:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"the k-row score table must broadcast:\n$p")
    // post-fold the epoch delta is EMPTY (physically dropped), so not
    // even the q173 allowance of two small delta exchanges applies
    assert(!p.contains("Exchange hashpartitioning"),
      s"nothing may hash-shuffle in the root-served fetch:\n$p")
  }

  test("q186 batched serving: N prompts share ONE probe subtree") {
    // the feature IS the plan shape (round-16 verdict missing #2): a
    // silent fallback to per-prompt plans would multiply the artifact
    // scans by the batch size and only answer-equality would notice,
    // at fixture scale. Pin the probe frame searchIndexedBatch
    // collects: the artifact scan set must be ONE scan regardless of
    // prompt count.
    val eng = new graft.search.SearchEngine(spark)
    def artScans(n: Int): Seq[String] = {
      val frame = eng.batchMainProbeFrame(sf001,
        graft.queries.AnnQueries.BatchServedPrompts.take(n), 10)
      assertBatchShortlist(frame)
      val p = frame.queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"batched probe joins must broadcast:\n$p")
      assert(p.contains("partial_topkagg"),
        s"per-query top-k must combine map-side:\n$p")
      // dedup by scan body: the DPP subquery echoes its build subtree
      p.linesIterator.filter(l =>
          l.contains("Scan parquet") && l.contains("graft_ivfpq_index"))
        .map(l => l.substring(l.indexOf("FileScan"))).toSeq.distinct
    }
    val one = artScans(1)
    val three = artScans(3)
    assert(three.size == 1,
      s"expected ONE artifact scan for the whole batch:\n${three.mkString("\n")}")
    assert(one.size == three.size,
      "the artifact scan count must not scale with the prompt count")
  }

  test("q187 root-served batch: one pointer resolve, one probe subtree against the resolved epoch") {
    // q186's one-subtree guarantee must survive the POINTER: the q187
    // construction resolves the serving root ONCE for the whole batch
    // and probes the resolved epoch dirs — a per-prompt fallback
    // (scan count scaling with prompts) or a split-epoch read (scans
    // naming more than one generation dir) fails here, not just in
    // answer equality at fixture scale.
    val eng = new graft.search.SearchEngine(spark)
    val root = graft.queries.AnnQueries.servedRootDir(spark, sf001)
    val (idx, delta) = graft.search.AnnIndex.ServingRoot.resolve(spark, root)
    // full scan paths via the physical nodes (the plan STRING truncates
    // Location paths before the epoch segment); DPP subqueries echo
    // their build scan, so dedup by (paths, read schema)
    def epochScans(n: Int): Seq[String] = {
      val qe = eng.batchMainProbeFrame(sf001,
          graft.queries.AnnQueries.RootBatchPrompts.take(n), 10,
          deltaDir = Some(delta), mainDir = Some(idx))
        .queryExecution
      val p = qe.executedPlan.toString
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"root-batch probe joins must broadcast:\n$p")
      // the q187 fixture folds before serving: the epoch delta holds
      // no tombstones, so no exclusion anti-join may survive
      assert(!p.contains("LeftAnti"),
        s"post-fold the probe must carry no tombstone anti-join:\n$p")
      // scan nodes off the pre-AQE physical plan (AQE wraps the
      // executed plan until runtime; the scan SET is fixed before it).
      // Plain collect: DPP subqueries only echo main-tree scans, and
      // collectWithSubqueries trips on logical subquery plans here
      qe.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths
              .exists(_.toString.contains("graft_served_root")) =>
          f.relation.location.rootPaths.map(_.toString).sorted.mkString(";") +
            "|" + f.schema.catalogString
      }.distinct
    }
    val one = epochScans(1)
    val three = epochScans(3)
    assert(three.size == 1,
      s"expected ONE epoch-artifact scan for the whole batch:\n${three.mkString("\n")}")
    assert(one.size == three.size,
      "the epoch-artifact scan count must not scale with the prompt count")
    // all artifact scans read the SAME pointer-resolved generation —
    // the one-resolve-per-batch property made visible in the plan
    val gens = three.flatMap(sc =>
      "epoch_[0-9]+(?![_0-9])".r.findAllIn(sc).toSeq).distinct
    assert(gens.size === 1,
      s"every scan must read the one resolved epoch, got: $gens")
  }

  test("served routes withhold the tombstone broadcast past TombstoneBroadcastMaxBytes") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.functions.{col, xxhash64}
    import graft.search.{AnnIndex, HashingEmbedder}
    import spark.implicits._
    val mainDir = graft.queries.AnnQueries.ivfPqIndexDir(spark, sf001)
    val deltaDir = java.nio.file.Files
      .createTempDirectory("graft_tombstone_ceiling_spec").toString
    // ~4 M scattered ids (hashed over the 64-bit range: no run or
    // dictionary compresses them) put the store's raw bytes past the
    // ceiling; a live put gives the delta side a tombstone shadow
    AnnIndex.appendTombstones(spark, deltaDir,
      spark.range(4000000L).select(xxhash64(col("id")).as("vec_id")),
      0L, compactEvery = 0)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(fs.getContentSummary(new org.apache.hadoop.fs.Path(s"$deltaDir/tombstones"))
      .getLength > AnnIndex.TombstoneBroadcastMaxBytes)
    def emb(t: String) = new HashingEmbedder(64).embed(t).toSeq
    AnnIndex.appendDeltaBatch(spark, mainDir, deltaDir,
      Seq((980000001L, emb("ceiling spec alpha"), "ceiling spec alpha"))
        .toDF("vec_id", "embedding", "text"), 1L, compactEvery = 0)
    // every plan the served routes execute, in full: AQE stages, reused
    // exchanges and the plans behind cached relations
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children ++ p.subqueries
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    def isTombstoneScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("/tombstones/"))
      case _ => false
    }
    // a broadcast relation IS the tombstone set when its subtree reaches
    // a tombstone scan without crossing a join (a broadcast shortlist
    // that was anti-joined against the tombstones further down is not)
    def isTombstoneSet(p: SparkPlan): Boolean = isTombstoneScan(p) || (p match {
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
      case _ => kids(p).exists(isTombstoneSet)
    })
    val eng = new graft.search.SearchEngine(spark)
    spark.listenerManager.register(listener)
    try {
      eng.searchIndexed(sf001, "ceiling spec alpha", 10, deltaDir = Some(deltaDir)).collect()
      eng.searchIndexedBatch(sf001, Seq("ceiling spec alpha", "fast hash join"), 10,
        deltaDir = Some(deltaDir))
      org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    assert(all.flatMap(nodes).exists(isTombstoneScan),
      "the served routes must read the tombstone store")
    val broadcastTombstones = all.flatMap(nodes).collect {
      case b: BroadcastExchangeExec if isTombstoneSet(b) => b
    }
    assert(broadcastTombstones.isEmpty,
      s"past the ceiling no BroadcastExchange may sit on the tombstone side:\n" +
        broadcastTombstones.map(_.treeString).mkString("\n"))
  }
}
