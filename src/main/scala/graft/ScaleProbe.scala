package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probes — measurements that answer "does the plan survive a
  * layout or scale the fixtures don't exercise?" with numbers instead
  * of extrapolation. Results are recorded in SCALING.md. Four modes,
  * mutually exclusive (an if/else chain — no non-local returns, so the
  * dispatch survives being wrapped in closures/Try):
  *
  *  - default (decade-up): synthesizes a corpus `--copies`× the largest
  *    fixture (each sf0.1 document replicated into perturbed near-dup
  *    clones with distinct ids — deliberately dedup-HEAVY, the worst
  *    case for the pair-generating queries) and times a corpus-query
  *    subset against it with the noop sink (full evaluation of every
  *    output row — Bench's round-7 action).
  *  - `--brp-tables N [--brp-bucket L]`: q72 BRP geometry tuning on the
  *    REAL fixture, recall vs the exact all-pairs top-20.
  *  - `--semdedup-k N [--semdedup-score S]`: SemDeDup fit+report at
  *    probe scale through the broadcast-join assignment path.
  *  - `--multifile N`: rewrites every fixture table into an N-file
  *    layout (and the q73/q75 persisted artifacts into multi-file
  *    partition directories), re-runs the most expensive queries + the
  *    artifact probes against BOTH layouts, asserts bit-identical
  *    results, and checks the partition-pruning/DPP evidence still
  *    appears in the multi-file plans. Exists because the driver
  *    fixtures are ONE parquet row group per table (FIXTURES.md), so
  *    scan parallelism and multi-file pruning — the mechanisms the
  *    100 TB story leans on — would otherwise go untested.
  *
  * Usage: `sbt "runMain graft.ScaleProbe /root/testdata/sf0.1 /tmp/sfbig
  *   [--copies N] [--multifile N] [--queries q65_bloom_decontam,...]"`
  * (synthetic corpora are written on first run and reused after; out
  * dirs encode the copy/file count, so different scales don't collide).
  */
object ScaleProbe {
  val DefaultCopies = 10

  val DefaultQueries: Seq[String] = Seq(
    "q10_knn_exact", "q19_minhash_lsh", "q20_simhash", "q17_dedup_exact",
    "q45_bigram_top", "q41_tfidf_topterms", "q52_decontamination",
    "q55_unigram_loglik", "q57_countmin", "q59_incremental_dedup",
    "q62_oov_rate", "q64_containment_audit", "q65_bloom_decontam",
    "q66_span_dedup", "q69_export_manifest", "q70_vocab_coverage")

  /** The multi-file probe set: the 10 most expensive benched queries
    * (BENCH_r09 ranking) + the three persisted-artifact probes whose
    * partition-pruning story the layout change most directly tests. */
  val MultiFileQueries: Seq[String] = Seq(
    "q85_semdedup", "q98_rank_ensemble", "q72_brp_neardup",
    "q86_quality_classifier", "q46_salted_join", "q83_dup_pagerank",
    "q95_spectral_terms", "q89_margin_mining", "q1_pricing_summary",
    "q82_dsir_weights",
    "q73_band_index_probe", "q75_ivf_index_probe", "q87_ivf_multiprobe")

  /** Order-independent canonical fingerprint of a result: (row count,
    * decimal sum of per-row xxhash64 over the name-sorted columns cast
    * to string). Both runs are Spark, so string rendering is identical;
    * the sum is order-free, so partitioning/file layout cannot move it.
    * Used by the multi-file probe and MultiFileSpec. */
  def canonicalHash(df: DataFrame): (Long, BigDecimal) = {
    val cs = df.columns.sorted.toIndexedSeq.map(c => col(c).cast("string"))
    val row = df
      .select(xxhash64(concat_ws("", cs: _*)).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")).as("s"))
      .head()
    (row.getLong(0), BigDecimal(row.getDecimal(1)))
  }

  /** Rewrite a parquet dataset in place into (up to) `nFiles` files —
    * per partition directory when `partCols` is set. Write-to-sibling
    * then swap, because Spark cannot overwrite a path it is reading. */
  private def rewriteMultiFile(spark: SparkSession, path: String, nFiles: Int,
                               partCols: Seq[String] = Nil): Unit = {
    val tmp = path + "_mf_tmp"
    val w = spark.read.parquet(path).repartition(nFiles)
      .write.mode(SaveMode.Overwrite)
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(tmp)
    deleteRec(new java.io.File(path))
    require(new java.io.File(tmp).renameTo(new java.io.File(path)),
      s"rename $tmp -> $path failed")
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }

  private def countParquetFiles(dir: java.io.File): Int =
    if (!dir.isDirectory) 0
    else dir.listFiles().map(f =>
      if (f.isDirectory) countParquetFiles(f)
      else if (f.getName.endsWith(".parquet")) 1 else 0).sum

  def main(args: Array[String]): Unit = {
    val (flags, positionals) = Search.splitArgs(args.toSeq)
    val srcDir = positionals.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = flags.get("copies").map(_.toInt).getOrElse(DefaultCopies)
    val outBase = positionals.lift(1).getOrElse("/tmp/sfbig")
    val outDir = outBase + s"_x$copies"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ok =
      if (flags.contains("multifile"))
        multiFileProbe(spark, srcDir, outBase, flags)
      else if (flags.contains("ivf-tune"))
        ivfTuneProbe(spark, srcDir)
      else if (flags.contains("ivfpq-tune"))
        ivfPqTuneProbe(spark, srcDir, flags)
      else if (flags.contains("served-tune"))
        servedTuneProbe(spark, srcDir)
      else if (flags.contains("ivfpq-multi-tune"))
        ivfPqMultiTuneProbe(spark, srcDir)
      else if (flags.contains("ivfpq-filter-tune"))
        ivfPqFilterTuneProbe(spark, srcDir)
      else if (flags.contains("ivfpq-res-tune"))
        ivfPqResTuneProbe(spark, srcDir, flags)
      else if (flags.contains("ivfpq-compact-tune"))
        ivfPqCompactTuneProbe(spark, srcDir)
      else if (flags.contains("brp-tables"))
        brpTuningProbe(spark, srcDir, flags)
      else if (flags.contains("q72-anatomy"))
        q72AnatomyProbe(spark, srcDir)
      else if (flags.contains("cc-probe"))
        ccProbe(spark, flags)
      else if (flags.contains("ingest-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        ingestProbe(spark, outDir, flags)
      }
      else if (flags.contains("lsm-soak"))
        lsmSoakProbe(spark, srcDir, flags)
      else if (flags.contains("fold-soak"))
        foldSoakProbe(spark, srcDir, flags)
      else if (flags.contains("para-probe") && flags.contains("distinct"))
        paraProbeDistinct(spark, copies)
      else if (flags.contains("served-tombstone-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        servedTombstoneProbe(spark, outDir, flags)
      }
      else if (flags.contains("tombstone-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        tombstoneProbe(spark, outDir, flags)
      }
      else if (flags.contains("refit-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        refitProbe(spark, outDir, flags)
      }
      else if (flags.contains("band-cand-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        bandCandProbe(spark, outDir, copies, flags)
      }
      else if (flags.contains("takedown-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        takedownProbe(spark, outDir, flags)
      }
      else if (flags.contains("rebuild-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        rebuildProbe(spark, outDir, flags)
      }
      else if (flags.contains("media-ops-soak"))
        mediaOpsSoakProbe(spark, srcDir, flags)
      else if (flags.contains("media-soak"))
        mediaSoakProbe(spark, srcDir, flags)
      else if (flags.contains("maintain-probe"))
        maintainProbe(spark, srcDir, flags)
      else if (flags.contains("batch-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        batchProbe(spark, outDir, flags)
      }
      else if (flags.contains("lost-pairs-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        lostPairsProbe(spark, outDir, copies)
      }
      else if (flags.contains("dhash-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        dhashProbe(spark, outDir, copies)
      }
      else if (flags.contains("vdhash-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        vdhashProbe(spark, outDir, flags)
      }
      else if (flags.contains("para-probe")) {
        ensureClones(spark, srcDir, outDir, copies)
        paraProbe(spark, outDir, copies)
      }
      else if (flags.contains("semdedup-k")) {
        ensureClones(spark, srcDir, outDir, copies)
        semDedupProbe(spark, outDir, copies, flags)
      } else {
        ensureClones(spark, srcDir, outDir, copies)
        decadeUpProbe(spark, outDir, copies, flags)
      }
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** Synthesize the cloned corpus (near-dup documents + perturbed
    * embeddings) once; later runs at the same copy count reuse it. */
  private def ensureClones(spark: SparkSession, srcDir: String, outDir: String,
                           copies: Int): Unit = {
    val docsPath = s"$outDir/documents.parquet"
    if (!new java.io.File(docsPath).exists()) {
      val copyDf = spark.range(copies).select(col("id").as("copy"))
      spark.read.parquet(s"$srcDir/documents.parquet")
        .crossJoin(copyDf)
        // clone ids live in disjoint ranges; each clone's text gets a
        // copy-specific suffix token, so clones are NEAR-dups (high but
        // non-1.0 jaccard), exercising the verification path for real
        .select(
          (col("doc_id") + col("copy") * 10000000L).as("doc_id"),
          concat(col("text"), lit(" copytag"), col("copy")).as("text"),
          col("lang"), col("source"),
          (col("n_chars") + lit(9L)).as("n_chars"))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(docsPath)
      spark.read.parquet(s"$srcDir/embeddings.parquet")
        .crossJoin(copyDf)
        .select(
          (col("vec_id") + col("copy") * 10000000L).as("vec_id"),
          // perturb one dimension per copy so clones are near- but not
          // exact-duplicate vectors
          zip_with(col("embedding"),
            transform(col("embedding"), (_, i) =>
              when(i === 0, col("copy").cast("float") * lit(0.001f))
                .otherwise(lit(0.0f))),
            (v, d) => v + d).as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")
    }
    // events and lineitem clones (added for the q111/q114 probes) are
    // gated separately so pre-existing synthetic dirs upgrade in place
    if (!new java.io.File(s"$outDir/events.parquet").exists()) {
      val copyDf = spark.range(copies).select(col("id").as("copy"))
      sources.Sources.normalizeEventTs(
          spark.read.parquet(s"$srcDir/events.parquet"))
        .crossJoin(copyDf)
        // each copy is a disjoint user population with its own event-id
        // range; timestamps keep the fixture's distribution so window
        // state and the CDC split stay realistic
        .select(
          (col("event_id") + col("copy") * 1000000000L).as("event_id"),
          col("ts"),
          (col("user_id") + col("copy") * 100000L).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")
    }
    if (!new java.io.File(s"$outDir/lineitem.parquet").exists()) {
      val copyDf = spark.range(copies).select(col("id").as("copy"))
      spark.read.parquet(s"$srcDir/lineitem.parquet")
        .crossJoin(copyDf)
        // orderkeys disjoint per copy; the (partkey, suppkey) plane is
        // reused, so z-space density scales with the copy count —
        // exactly what a z-order layout faces as a table grows
        .select(
          (col("l_orderkey") + col("copy") * 100000000L).as("l_orderkey"),
          col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate"))
        .repartition(32)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/lineitem.parquet")
    }
  }

  /** IVF recall-tuning probe (--ivf-tune): for the q75/q87 query set
    * (vec_id < MultiProbeQueries) against the CANONICAL IVF build on
    * srcDir, reports each query's minimum nProbe for 10/10 exact
    * recall — the rank of the worst cell holding a true top-10
    * neighbor. Feeds the IvfNProbe/MultiProbeNProbe slack constants
    * (their scaladoc records the measured minima; re-run this after
    * any fixture regeneration or quantizer change). */
  private def ivfTuneProbe(spark: SparkSession, srcDir: String): Boolean = {
    import org.apache.spark.ml.linalg.Vectors
    val e = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
    val idx = search.AnnIndex.buildIvf(e, cells = queries.AnnQueries.IvfCells)
    val cellOf = idx.assigned.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val qs = e.filter(col("vec_id") < queries.AnnQueries.MultiProbeQueries)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    val minima = qs.map { case (qid, qv) =>
      val top10 = e
        .withColumn("score", round(
          graft.functions.VectorFunctions.neo4jScore(col("embedding"),
            typedLit(qv.toSeq)), 6))
        .orderBy(col("score").desc, col("vec_id").asc).limit(10)
        .collect().map(_.getLong(0))
      val qn = {
        val n = math.sqrt(qv.map(x => x.toDouble * x).sum)
        if (n == 0) qv.map(_.toDouble) else qv.map(_ / n)
      }
      val cellRank = idx.model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, Vectors.sqdist(Vectors.dense(qn), c)) }
        .sortBy(_._2).map(_._1).zipWithIndex.toMap // cell -> rank (0-based)
      val minNProbe = top10.map(id => cellRank(cellOf(id)) + 1).max
      qid -> minNProbe
    }
    idx.assigned.unpersist()
    val per = minima.map { case (q, m) => s"""\"q$q\":$m""" }.mkString("{", ",", "}")
    println(s"""{"probe":"ivf-tune","src":"$srcDir","cells":${queries.AnnQueries.IvfCells},"min_nprobe_per_query":$per,"q75_min":${minima.head._2},"q87_batch_min":${minima.map(_._2).max}}""")
    true
  }

  /** IVF-PQ shortlist-tuning probe (--ivfpq-tune): builds the q148
    * artifact on srcDir, computes the exact top-10, and reports (a)
    * how many members' cells escape the IvfNProbe pruning (must be 0 —
    * that is --ivf-tune's territory) and (b) the max ADC rank of any
    * member within the probed cells — i.e. the minimum IvfPqShortlist
    * for 10/10 recall. Feeds the IvfPqShortlist slack constant; re-run
    * after any fixture regeneration or geometry change. The tune's
    * rank window is a single-partition sort — fine for a measurement
    * tool, never a query shape. */
  private def ivfPqTuneProbe(spark: SparkSession, srcDir: String,
                             flags: Map[String, String]): Boolean = {
    // --tune-split: measure against the q150 MAIN-split artifact
    // instead — the exact top-10 stays FULL-corpus, but only its MAIN
    // members must be recovered by the index (delta is always exact),
    // so ranks are computed for those members against the main build
    val split = flags.get("tune-split").contains("true")
    val dir =
      if (split) queries.AnnQueries.ivfPqMainIndexDir(spark, srcDir)
      else queries.AnnQueries.ivfPqIndexDir(spark, srcDir)
    val e = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
    val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).toArray
    val allTop10 = e.withColumn("score", round(
        graft.functions.VectorFunctions.neo4jScore(col("embedding"),
          typedLit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSeq
    // the artifact's own resident set (main split under --tune-split)
    val resident = spark.read.parquet(s"$dir/corpus")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val top10 = allTop10.filter(resident)
    val probed = search.AnnIndex.probedCells(spark, dir, qv, queries.AnnQueries.IvfNProbe)
    import org.apache.spark.sql.expressions.Window
    val ranked = spark.read.parquet(s"$dir/corpus")
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"),
        search.AnnIndex.adcDistanceCol(spark, dir, qv).as("adc_d"))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("adc_d").asc, col("vec_id").asc)))
      .filter(col("vec_id").isInCollection(top10))
      .select(col("vec_id"), col("rk"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val missing = top10.filterNot(ranked.contains)
    val minShort = if (ranked.isEmpty) -1 else ranked.values.max
    println(s"""{"probe":"ivfpq-tune","src":"$srcDir","split":$split,"n_members":${top10.size},"n_probe":${queries.AnnQueries.IvfNProbe},"pq_k":${queries.AnnQueries.IvfPqK},"missing_from_probed_cells":${missing.size},"min_shortlist":$minShort}""")
    missing.isEmpty
  }

  /** Served-search shortlist tune (--served-tune): q165's geometry —
    * the query vector is the [[graft.search.HashingEmbedder]] embedding
    * of [[graft.queries.AnnQueries.ServedPrompt]] (a sparse
    * normalized-TF vector, geometrically unlike the corpus's dense
    * synthetics — which is exactly why the served path carries its own
    * measured constant), probed against the shared q148 artifact:
    * reports the exact top-10's cell misses at IvfNProbe (must be 0)
    * and the max ADC rank of any member — the minimum ServedShortlist
    * for 10/10 recall. Re-run after any fixture regeneration. */
  private def servedTuneProbe(spark: SparkSession, srcDir: String): Boolean = {
    val dir = queries.AnnQueries.ivfPqIndexDir(spark, srcDir)
    val qv = new search.HashingEmbedder(64)
      .embed(queries.AnnQueries.ServedPrompt)
    val e = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
    val top10 = e.withColumn("score", round(
        graft.functions.VectorFunctions.neo4jScore(col("embedding"),
          typedLit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSeq
    val probed = search.AnnIndex.probedCells(spark, dir, qv, queries.AnnQueries.IvfNProbe)
    import org.apache.spark.sql.expressions.Window
    val ranked = spark.read.parquet(s"$dir/corpus")
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"),
        search.AnnIndex.adcDistanceCol(spark, dir, qv).as("adc_d"))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("adc_d").asc, col("vec_id").asc)))
      .filter(col("vec_id").isInCollection(top10))
      .select(col("vec_id"), col("rk"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val missing = top10.filterNot(ranked.contains)
    val minShort = if (ranked.isEmpty) -1 else ranked.values.max
    println(s"""{"probe":"served-tune","src":"$srcDir","n_members":${top10.size},"n_probe":${queries.AnnQueries.IvfNProbe},"missing_from_probed_cells":${missing.size},"min_shortlist":$minShort}""")
    missing.isEmpty
  }

  /** Filtered-ANN shortlist tune (--ivfpq-filter-tune): q152's
    * geometry — the exact FILTERED (label = FilterLabel) top-10's cell
    * misses at IvfNProbe, and the max ADC rank of any member AMONG
    * FILTERED candidates in the probed cells (the pre-filter strategy
    * ranks qualifying rows only, so this is the minimum
    * IvfPqFilteredShortlist for 10/10 filtered recall). */
  private def ivfPqFilterTuneProbe(spark: SparkSession, srcDir: String): Boolean = {
    val dir = queries.AnnQueries.ivfPqIndexDir(spark, srcDir)
    val lbl = queries.AnnQueries.FilterLabel
    val e = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
    val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).toArray
    val top10 = e.filter(col("label") === lbl)
      .withColumn("score", round(
        graft.functions.VectorFunctions.neo4jScore(col("embedding"),
          typedLit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSeq
    val probed = search.AnnIndex.probedCells(spark, dir, qv, queries.AnnQueries.IvfNProbe)
    import org.apache.spark.sql.expressions.Window
    val ranked = spark.read.parquet(s"$dir/corpus")
      .filter(col("cell").isin(probed: _*))
      .filter(col("label") === lbl)
      .select(col("vec_id"),
        search.AnnIndex.adcDistanceCol(spark, dir, qv).as("adc_d"))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("adc_d").asc, col("vec_id").asc)))
      .filter(col("vec_id").isInCollection(top10))
      .select(col("vec_id"), col("rk"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val missing = top10.filterNot(ranked.contains)
    val minShort = if (ranked.isEmpty) -1 else ranked.values.max
    println(s"""{"probe":"ivfpq-filter-tune","src":"$srcDir","label":$lbl,"n_members":${top10.size},"n_probe":${queries.AnnQueries.IvfNProbe},"missing_from_probed_cells":${missing.size},"min_shortlist":$minShort}""")
    missing.isEmpty
  }

  /** Residual-IVFADC shortlist tune (--ivfpq-res-tune [--tune-qid N]):
    * q154's geometry — the exact top-10 for query vec N (default
    * ResQueryId) against the RESIDUAL-encoded artifact: cell misses at
    * IvfNProbe and the max residual-ADC rank of any member within the
    * probed cells. Run with --tune-qid 0 to compare directly against
    * --ivfpq-tune's raw-space minima for the same query — the
    * encoding-improvement receipt. */
  private def ivfPqResTuneProbe(spark: SparkSession, srcDir: String,
                                flags: Map[String, String]): Boolean = {
    val dir = queries.AnnQueries.ivfPqResIndexDir(spark, srcDir)
    val qid = flags.get("tune-qid").map(_.toLong)
      .getOrElse(queries.AnnQueries.ResQueryId)
    val e = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
    val qv = e.filter(col("vec_id") === qid).select(col("embedding"))
      .head().getSeq[Float](0).toArray
    val top10 = e.withColumn("score", round(
        graft.functions.VectorFunctions.neo4jScore(col("embedding"),
          typedLit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSeq
    val probed = search.AnnIndex.probedCells(spark, dir, qv, queries.AnnQueries.IvfNProbe)
    import org.apache.spark.sql.expressions.Window
    val ranked = spark.read.parquet(s"$dir/corpus")
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"),
        search.AnnIndex.adcResidualDistanceCol(spark, dir, qv).as("adc_d"))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("adc_d").asc, col("vec_id").asc)))
      .filter(col("vec_id").isInCollection(top10))
      .select(col("vec_id"), col("rk"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val missing = top10.filterNot(ranked.contains)
    val minShort = if (ranked.isEmpty) -1 else ranked.values.max
    println(s"""{"probe":"ivfpq-res-tune","src":"$srcDir","query":$qid,"n_members":${top10.size},"n_probe":${queries.AnnQueries.IvfNProbe},"missing_from_probed_cells":${missing.size},"min_shortlist":$minShort}""")
    missing.isEmpty
  }

  /** Post-compaction shortlist tune (--ivfpq-compact-tune): q153's
    * geometry — the exact FULL-corpus top-10 for query CompactQueryId,
    * ranked by ADC over the UNION of the main artifact's and the
    * compacted delta segment's probed-cell residents (one quantizer,
    * one cell ranking). Reports cell misses at IvfNProbe and the union
    * shortlist minimum. */
  private def ivfPqCompactTuneProbe(spark: SparkSession, srcDir: String): Boolean = {
    val mainDir = queries.AnnQueries.ivfPqMainIndexDir(spark, srcDir)
    val segDir = queries.AnnQueries.deltaSegmentDir(spark, srcDir)
    val e = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
    val qv = e.filter(col("vec_id") === queries.AnnQueries.CompactQueryId)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val top10 = e.withColumn("score", round(
        graft.functions.VectorFunctions.neo4jScore(col("embedding"),
          typedLit(qv.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSeq
    val probed = search.AnnIndex.probedCells(spark, mainDir, qv, queries.AnnQueries.IvfNProbe)
    val adc = search.AnnIndex.adcDistanceCol(spark, mainDir, qv)
    import org.apache.spark.sql.expressions.Window
    val ranked = Seq(s"$mainDir/corpus", segDir)
      .map(p => spark.read.parquet(p)
        .filter(col("cell").isin(probed: _*))
        .select(col("vec_id"), adc.as("adc_d")))
      .reduce(_.unionByName(_))
      .withColumn("rk",
        row_number().over(Window.orderBy(col("adc_d").asc, col("vec_id").asc)))
      .filter(col("vec_id").isInCollection(top10))
      .select(col("vec_id"), col("rk"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val missing = top10.filterNot(ranked.contains)
    val minShort = if (ranked.isEmpty) -1 else ranked.values.max
    println(s"""{"probe":"ivfpq-compact-tune","src":"$srcDir","query":${queries.AnnQueries.CompactQueryId},"n_members":${top10.size},"n_probe":${queries.AnnQueries.IvfNProbe},"missing_from_probed_cells":${missing.size},"min_shortlist":$minShort}""")
    missing.isEmpty
  }

  /** Multi-query IVF-PQ shortlist tune (--ivfpq-multi-tune): for each
    * of the q87/q151 query vectors (vec_id < MultiProbeQueries)
    * against the full q148 artifact, reports the ADC rank of that
    * query's worst exact-top-10 member within its probed cells — the
    * batch needs the WORST query's shortlist (the q87
    * worst-case-not-slack policy). Loops the single-query machinery
    * per query: a measurement tool, not a query shape. */
  private def ivfPqMultiTuneProbe(spark: SparkSession, srcDir: String): Boolean = {
    val dir = queries.AnnQueries.ivfPqIndexDir(spark, srcDir)
    val e = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
    import org.apache.spark.sql.expressions.Window
    val per = (0L until queries.AnnQueries.MultiProbeQueries.toLong).map { qid =>
      val qv = e.filter(col("vec_id") === qid).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val top10 = e.withColumn("score", round(
          graft.functions.VectorFunctions.neo4jScore(col("embedding"),
            typedLit(qv.toSeq)), 6))
        .orderBy(col("score").desc, col("vec_id").asc).limit(10)
        .collect().map(_.getLong(0)).toSeq
      val probed = search.AnnIndex.probedCells(spark, dir, qv,
        queries.AnnQueries.MultiProbeNProbe)
      val ranked = spark.read.parquet(s"$dir/corpus")
        .filter(col("cell").isin(probed: _*))
        .select(col("vec_id"),
          search.AnnIndex.adcDistanceCol(spark, dir, qv).as("adc_d"))
        .withColumn("rk",
          row_number().over(Window.orderBy(col("adc_d").asc, col("vec_id").asc)))
        .filter(col("vec_id").isInCollection(top10))
        .select(col("vec_id"), col("rk"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val missing = top10.count(!ranked.contains(_))
      (qid, missing, if (ranked.isEmpty) -1 else ranked.values.max)
    }
    val js = per.map { case (q, m, r) =>
      s""""q$q":{"missing":$m,"min_shortlist":$r}""" }.mkString("{", ",", "}")
    println(s"""{"probe":"ivfpq-multi-tune","src":"$srcDir","n_probe":${queries.AnnQueries.MultiProbeNProbe},"per_query":$js,"batch_min_shortlist":${per.map(_._3).max},"any_missing":${per.map(_._2).sum}}""")
    per.forall(_._2 == 0)
  }

  /** BRP tuning probe (--brp-tables N [--brp-bucket L]): times q72's
    * near-dup plan on the REAL srcDir fixture with an alternative
    * (numTables, bucketLength) and reports recall against the exact
    * all-pairs top-20 computed in the same run (2k vectors at sf0.1 ⇒
    * the exact baseline is cheap here; at corpus scale it is not,
    * which is why q72 exists). Feeds the minCos-vs-geometry tuning
    * note in SCALING.md. */
  private def brpTuningProbe(spark: SparkSession, srcDir: String,
                             flags: Map[String, String]): Boolean = {
    val tables = flags("brp-tables").toInt
    val bucket = flags.get("brp-bucket").map(_.toDouble).getOrElse(2.0)
    val minCos = flags.get("brp-mincos").map(_.toDouble)
      .getOrElse(queries.AnnQueries.NearDupMinCos)
    val topK = queries.AnnQueries.NearDupTopK
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
    def lshPass(): (Double, Seq[(Long, Long)]) = {
      val t0 = System.nanoTime()
      val idx = search.AnnIndex.buildBrp(emb, numTables = tables,
        bucketLength = bucket, cache = true)
      val top = idx.nearDupPairsCanonical(minCos)
        .orderBy(col("score").desc, col("vec_a").asc, col("vec_b").asc)
        .limit(topK)
      top.write.format("noop").mode("overwrite").save()
      val pairs = top.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      idx.hashed.unpersist()
      ((System.nanoTime() - t0) / 1e9, pairs)
    }
    val (coldT, lshPairs) = lshPass()
    val (warmT, _) = lshPass()
    // exact all-pairs top-20 under the same score convention
    val a = emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val exact = a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        graft.functions.VectorFunctions.neo4jScore(col("ea"), col("eb")).as("score"))
      .orderBy(col("score").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(topK)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalled = lshPairs.count(exact.contains)
    println(s"""{"probe":"brp-tuning","src":"$srcDir","n_vecs":${emb.count()},"num_tables":$tables,"bucket_length":$bucket,"min_cos":$minCos,"cold_sec":$coldT,"warm_sec":$warmT,"recall_at_$topK":${recalled.toDouble / topK}}""")
    true
  }

  /** q72 anatomy probe (--q72-anatomy): where does the near-dup join's
    * time go on the real fixture? Reports the candidate-iteration
    * volume (Σ m² over (t, b) buckets — the row combinations the bucket
    * equi-join must iterate), the distinct bucket-sharing pair count
    * (canonical passes — the exact-rescore volume), and warm min-of-3
    * timings for (a) the shipped shape (embeddings carried through the
    * band join) and (b) a slim-pairs shape (bands joined without
    * payloads, embeddings broadcast-attached to canonical survivors
    * after — guide §8 decide-small/attach-late), asserting (b)
    * reproduces (a)'s top-20 exactly. Measurement tool only; feeds the
    * round-19 q72 decision. */
  private def q72AnatomyProbe(spark: SparkSession, srcDir: String): Boolean = {
    val minCos = queries.AnnQueries.NearDupMinCos
    val topK = queries.AnnQueries.NearDupTopK
    val tables = queries.AnnQueries.BrpTables
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
    val idx = search.AnnIndex.buildBrp(emb, numTables = tables, cache = true)
    val bands = idx.banded
    bands.count() // materialize the cached band view outside the timing
    val vol = bands.groupBy("t", "b").agg(count(lit(1)).as("m"))
      .agg(sum(col("m") * col("m")).as("iters"), count(lit(1)).as("buckets"),
        max(col("m")).as("max_bucket")).head()
    def sink(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timeMin(reps: Int)(thunk: => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); thunk; (System.nanoTime() - t0) / 1e9
      }.min
    val full = idx.nearDupPairsCanonical(minCos)
      .orderBy(col("score").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(topK)
    val canonical = (0 until tables).map { j =>
      lit(j) >= col("x.t") ||
        element_at(col("x.sig"), j + 1) =!= element_at(col("y.sig"), j + 1)
    }.reduce(_ && _)
    val slim = bands.select(col("vec_id"), col("sig"), col("t"), col("b"))
    val pairs = slim.alias("x").join(slim.alias("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.vec_id") < col("y.vec_id") && canonical)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
    val score2 = graft.functions.VectorFunctions.neo4jScore(col("ea"), col("eb"))
    val slimTop = pairs
      .join(broadcast(emb.select(col("vec_id").as("vec_a"),
        col("embedding").as("ea"))), "vec_a")
      .join(broadcast(emb.select(col("vec_id").as("vec_b"),
        col("embedding").as("eb"))), "vec_b")
      .filter(score2 >= lit((1.0 + minCos) / 2.0))
      .select(col("vec_a"), col("vec_b"), round(score2, 6).as("score"))
      .orderBy(col("score").desc, col("vec_a").asc, col("vec_b").asc)
      .limit(topK)
    val nPairs = pairs.count() // the exact-rescore volume (also warms)
    sink(full); sink(slimTop)  // codegen warm
    val tFull = timeMin(3)(sink(full))
    val tSlim = timeMin(3)(sink(slimTop))
    val a = full.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val b = slimTop.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val same = a == b
    println(s"""{"probe":"q72-anatomy","src":"$srcDir","iters":${vol.getLong(0)},"buckets":${vol.getLong(1)},"max_bucket":${vol.getLong(2)},"rescore_pairs":$nPairs,"full_warm_sec":$tFull,"slim_warm_sec":$tSlim,"slim_matches":$same}""")
    same
  }

  /** SemDeDup probe mode (--semdedup-k N [--semdedup-score S]): the
    * declared q85 geometry (k=8) exists for the oracle's unrolled CTE;
    * at probe scale the paper's shape is k growing with the corpus so
    * cells stay small — this runs fit+report end to end on the cloned
    * embeddings through the broadcast-join assignment path. */
  private def semDedupProbe(spark: SparkSession, outDir: String, copies: Int,
                            flags: Map[String, String]): Boolean = {
    val k = flags("semdedup-k").toInt
    val minScore = flags.get("semdedup-score").map(_.toDouble).getOrElse(0.9)
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val nVecs = emb.count()
    def semPass(): (Double, Long) = {
      val t0 = System.nanoTime()
      val cents = operators.SemDedup.fit(emb, k, iters = 2)
      val df = operators.SemDedup.report(emb, cents, minScore)
      df.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, df.filter(col("removed") === 1).count())
    }
    val (coldT, coldRemoved) = semPass()
    val (warmT, _) = semPass()
    println(s"""{"probe":"semdedup","n_vecs":$nVecs,"copies":$copies,"k":$k,"min_score":$minScore,"iters":2,"cold_sec":$coldT,"warm_sec":$warmT,"removed":$coldRemoved}""")
    true
  }

  /** Decade-up probe: pass 1 = COLD (includes shared cache builds — the
    * honest "index build" cost); pass 2 = warm steady state, Bench's
    * methodology. The TIMED span covers query CONSTRUCTION + the noop
    * sink: several queries run driver-eager work while building the
    * frame (q70's two-pass offsets, q65's bloom fit, q47/q72's index
    * probe), so timing only the sink would exclude exactly the cost a
    * cold pass exists to measure. The diagnostic row count runs after,
    * untimed. */
  /** q163 candidate-linearity probe (--para-probe): on the cloned
    * corpus, report the corpus size n, the derived plane count
    * planesFor(n), the bucket count actually populated, and the
    * same-bucket CANDIDATE pair volume Σ pop·(pop−1)/2 — the quantity
    * the round-12 verdict measured growing quadratically under fixed
    * planes (~78 M at 200 k). Under the corpus-scaled rule it must
    * grow ~linearly (≈ n·ParaTargetPop/2 in expectation); run at
    * several --copies and compare candidates/n. Also times the full
    * q163 on the clone dir. */
  private def paraProbe(spark: SparkSession, outDir: String, copies: Int): Boolean = {
    val e = spark.read.parquet(s"$outDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val np = graft.functions.PortableHash.planesFor(n)
    val b = e.withColumn("bucket",
        graft.functions.PortableHash.lshBucketScaled(col("embedding"), np))
      // the clone fixture's planted structure: vec_id mod 1e7 names the
      // base vector; its `copies` perturbed clones are TRUE near-dups,
      // land in one bucket by construction, and contribute a
      // pair-quadratic candidate mass ANY correct method must emit —
      // so the linearity claim is about the CROSS-BASE remainder
      // (hash-collision noise), reported separately
      .withColumn("base", col("vec_id") % 10000000L)
    val pops = b.groupBy(col("bucket")).agg(count(lit(1)).as("pop"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("pop * (pop - 1) DIV 2")).as("candidates"),
        max(col("pop")).as("max_pop"))
      .head()
    val planted = b.groupBy(col("bucket"), col("base"))
      .agg(count(lit(1)).as("pop"))
      .agg(sum(expr("pop * (pop - 1) DIV 2")).as("planted"))
      .head().getLong(0)
    val t0 = System.nanoTime()
    val q = SparkEntry.queries("q163_paraphrase_mining")(spark, outDir)
    q.write.format("noop").mode("overwrite").save()
    val tq = (System.nanoTime() - t0) / 1e9
    val cand = pops.getLong(1)
    val cross = cand - planted
    println(s"""{"probe":"para-probe","copies":$copies,"n":$n,"n_planes":$np,"n_buckets":${pops.getLong(0)},"candidates":$cand,"planted_same_base":$planted,"cross_base":$cross,"cross_per_n":${cross.toDouble / n},"max_pop":${pops.getLong(2)},"q163_sec":$tq}""")
    true
  }

  /** Distributed connected-components probe (--cc-probe): runs the
    * large-star/small-star contraction ([[graft.operators.Dedup
    * .starContract]]) ABOVE the 10 M-edge driver cutover — the regime
    * where it, not the driver union-find, is the engine (round-12
    * verdict #4: the path was spec-covered on small graphs but never
    * probed at the scale it exists for). Planted graph: `--cc-nodes` N
    * nodes in groups of `--cc-group` g — a CHAIN through each group
    * (diameter g−1, the worst case for plain min-label propagation;
    * star contraction's round bound is O(log n), diameter-free) plus a
    * deterministic intra-group shortcut every 97th node, ≈ N edges
    * total. Ground truth is closed-form (component = the group's min
    * id), so correctness is checked EXHAUSTIVELY on all N labels, not
    * sampled; a slice through the driver union-find cross-checks the
    * two paths agree. Shuffle volume is captured by a listener over
    * the contraction's stages ONLY — the listener is snapshotted
    * (after an async-bus drain pause) and detached before the
    * verification jobs run, so the receipt reports what the operator
    * costs, not what checking it costs. */
  private def ccProbe(spark: SparkSession, flags: Map[String, String]): Boolean = {
    val nodes = flags.get("cc-nodes").map(_.toLong).getOrElse(20000000L)
    val g = flags.get("cc-group").map(_.toLong).getOrElse(1000L)
    val ids = spark.range(nodes)
    val chain = ids.filter((col("id") + 1) % g =!= 0)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val shortcut = ids.filter(col("id") % 97 === 0 && col("id") % g >= 10)
      .select(col("id").as("a"), (col("id") - 7).as("b"))
    val edges = chain.union(shortcut)
    val nEdges = edges.count()
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    val shuffleRecords = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val (cc0, rounds) = graft.operators.Dedup.starContract(edges)
    val cc = cc0.cache()
    // materializing the labels is the contraction's last stage, so it
    // belongs inside the timed/listened region; the verification jobs
    // below do NOT — they'd inflate the receipt with shuffle volume
    // the operator never pays in production
    val nLabeled = cc.count()
    val tSec = (System.nanoTime() - t0) / 1e9
    // the listener bus is asynchronous: drain queued StageCompleted
    // events before snapshotting (a real drain, not a fixed sleep —
    // under load the queue can outlive any constant pause), then
    // detach so the verification jobs stay out of the contraction's
    // receipts
    org.apache.spark.GraftListenerBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val sBytes = shuffleBytes.get
    val sRecords = shuffleRecords.get
    // exhaustive closed-form check: every node's component must be its
    // group's minimum id (reads the cached labels — verification only)
    val bad = cc.filter(col("component") =!= col("id") - (col("id") % g)).count()
    // driver-path cross-check on the first 100 groups (chain + shortcut
    // never cross groups, so filtering on `a` keeps `b` inside too)
    val slice = edges.filter(col("a") < 100 * g)
    val local = graft.operators.Dedup.connectedComponents(slice)
      .withColumnRenamed("component", "local_component")
    val mismatches = cc.filter(col("id") < 100 * g)
      .join(local, Seq("id"))
      .filter(col("component") =!= col("local_component")).count()
    cc.unpersist(blocking = false)
    println(s"""{"probe":"cc-probe","nodes":$nodes,"group":$g,"edges":$nEdges,"rounds":$rounds,"labeled":$nLabeled,"bad_labels":$bad,"driver_slice_mismatches":$mismatches,"sec":$tSec,"shuffle_bytes":$sBytes,"shuffle_records":$sRecords}""")
    bad == 0 && mismatches == 0 && rounds <= 30
  }

  /** Evolving-index serve probe (--ingest-probe [--batches N
    * --batch-docs M]): the round-13 lifecycle measured at corpus
    * scale — build the served session IVF-PQ artifact over the cloned
    * corpus, stream N micro-batches of M synthetic documents into the
    * LSM delta ([[graft.search.SearchEngine.streamingDocIngest]] —
    * embed per-partition, encode against the main quantizer, append +
    * compact), then serve: (a) a STATIC probe (artifact only), (b) an
    * LSM probe (artifact ∪ delta) with the same unrelated prompt, and
    * (c) an LSM probe whose prompt IS an ingested doc's text — the
    * correctness receipt: it must come back ranked first at score 1.0
    * with its payload, proving content ingested mid-session is served
    * with no rebuild. Receipts: per-batch ingest seconds + each probe
    * second. */
  private def ingestProbe(spark: SparkSession, srcDir: String,
                          flags: Map[String, String]): Boolean = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val nBatches = flags.get("batches").map(_.toInt).getOrElse(5)
    val batchDocs = flags.get("batch-docs").map(_.toInt).getOrElse(1000)
    val eng = new graft.search.SearchEngine(
      spark, new graft.search.HashingEmbedder(64))
    val t0 = System.nanoTime()
    eng.indexDir(srcDir) // CREATE INDEX once — the session artifact
    val buildSec = (System.nanoTime() - t0) / 1e9
    val deltaDir = java.nio.file.Files
      .createTempDirectory("graft_ingest_probe").toString
    val batchSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    var tBatch = System.nanoTime()
    val mem = MemoryStream[(Long, String)]
    val q = eng.streamingDocIngest(
      mem.toDF().toDF("doc_id", "text"), srcDir, deltaDir,
      compactEvery = 2) { _ =>
      batchSec += (System.nanoTime() - tBatch) / 1e9
      tBatch = System.nanoTime()
    }
    // ids far beyond the clone corpus's doc_id + copy*10M ranges
    // (max ~990M at 100 copies) — an accidental collision makes the
    // corpus text canonical per the declared rule, which is exactly
    // what the first run of this probe tripped over
    val marked = (0L until nBatches * batchDocs.toLong).map(i =>
      (2000000000L + i, s"synthetic ingest document $i with stable words " +
        s"alpha${i % 97} beta${i % 89} gamma${i % 83}"))
    try {
      marked.grouped(batchDocs).foreach { g =>
        tBatch = System.nanoTime()
        mem.addData(g.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    def timed(f: => Array[org.apache.spark.sql.Row]): (Double, Array[org.apache.spark.sql.Row]) = {
      val t = System.nanoTime(); val r = f; ((System.nanoTime() - t) / 1e9, r)
    }
    val prompt = "an unrelated probe prompt about distributed analytics"
    val (staticSec, _) = timed(eng.searchIndexed(srcDir, prompt, 10).collect())
    val (lsmSec, _) = timed(
      eng.searchIndexed(srcDir, prompt, 10, deltaDir = Some(deltaDir)).collect())
    val target = marked(marked.size / 2)
    val (servedSec, served) = timed(
      eng.searchIndexed(srcDir, target._2, 10, deltaDir = Some(deltaDir)).collect())
    val hit = served.headOption.exists(r =>
      r.getLong(0) == target._1 && r.getDouble(2) == 1.0 &&
        r.getString(1) == target._2)
    // receipt context: what actually came back, and what the delta
    // holds for the target id — turns a red flag into a diagnosis
    val head = served.take(3).map(r =>
      s"""[${r.getLong(0)},${r.getDouble(2)}]""").mkString(",")
    val headText = served.headOption
      .map(r => String.valueOf(r.getString(1)).take(80)).getOrElse("")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val segDirs = graft.sources.SegmentStore.segments(fs, deltaDir)
    val deltaCount = segDirs.map(spark.read.parquet(_).count()).sum
    val targetInDelta = segDirs.map(spark.read.parquet(_)
      .filter(col("vec_id") === target._1).count()).sum
    println(s"""{"probe":"ingest-probe","n_corpus":${spark.read.parquet(s"$srcDir/embeddings.parquet").count()},"batches":$nBatches,"batch_docs":$batchDocs,"build_sec":$buildSec,"batch_sec":[${batchSec.map(s => f"$s%.3f").mkString(",")}],"static_probe_sec":$staticSec,"lsm_probe_sec":$lsmSec,"served_ingested_sec":$servedSec,"ingested_doc_served":$hit,"served_head":[$head],"served_head_text":"$headText","target_text":"${target._2.take(80)}","delta_rows":$deltaCount,"target_in_delta":$targetInDelta}""")
    hit
  }

  /** Long-horizon LSM soak (--lsm-soak [--batches N --batch-docs M
    * --compact-every C]): N micro-batches stream through
    * [[graft.search.SearchEngine.streamingDocApply]] (every third
    * batch also deletes a slice of an earlier batch — the tombstone
    * store soaks too) with a small compaction cadence, while a
    * CONCURRENT prober thread hammers `searchIndexed(..., delta)`
    * nonstop. What it certifies, per the round-13 verdict's ask:
    *
    *  - ZERO stale-segment read errors across every compaction the
    *    prober races (the grace-GC + committed-segment contract,
    *    exercised under real concurrency instead of a 5-batch demo);
    *  - file counts stay BOUNDED: live dirs ≤ the compaction window +
    *    in-flight tail, generations on disk ≤ current + grace — O(1),
    *    not O(batches);
    *  - per-batch ingest latency stays FLAT (the last-third mean within
    *    3× of the first-third — an O(total) step per batch would climb
    *    linearly and trip this);
    *  - the final index still serves: a doc from the last batch comes
    *    back top-1 at 1.0, a deleted doc does not serve. */
  private def lsmSoakProbe(spark: SparkSession, srcDir: String,
                           flags: Map[String, String]): Boolean = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val nBatches = flags.get("batches").map(_.toInt).getOrElse(60)
    val batchDocs = flags.get("batch-docs").map(_.toInt).getOrElse(200)
    val compactEvery = flags.get("compact-every").map(_.toInt).getOrElse(3)
    val eng = new graft.search.SearchEngine(
      spark, new graft.search.HashingEmbedder(64))
    eng.indexDir(srcDir) // CREATE INDEX once
    val deltaDir = java.nio.file.Files
      .createTempDirectory("graft_lsm_soak").toString + "/delta"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // ---- concurrent prober: loops until the ingest finishes ----
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probes = new java.util.concurrent.atomic.AtomicLong
    val probeErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val prober = new Thread(() => {
      while (!stop.get()) {
        try {
          eng.searchIndexed(srcDir, "soak probe prompt about analytics",
            10, deltaDir = Some(deltaDir)).collect()
          probes.incrementAndGet()
        } catch {
          case e: Throwable if !stop.get() =>
            probeErrors.add(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      }
    }, "graft-soak-prober")
    // ---- the op stream: puts every batch, deletes every 3rd ----
    def docText(i: Long) = s"soak document $i alpha${i % 97} beta${i % 89}"
    val maxLive = new java.util.concurrent.atomic.AtomicLong
    val maxGens = new java.util.concurrent.atomic.AtomicLong
    val batchSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    var tBatch = System.nanoTime()
    val mem = MemoryStream[(Long, String, String)]
    val q = eng.streamingDocApply(
      mem.toDF().toDF("doc_id", "text", "op"), srcDir, deltaDir,
      compactEvery) { _ =>
      batchSec += (System.nanoTime() - tBatch) / 1e9
      // bounded-file-count receipts, observed at every batch boundary
      val live = graft.sources.SegmentStore.liveBatchDirs(fs, deltaDir).size
      val gens = {
        val d = new org.apache.hadoop.fs.Path(deltaDir)
        if (!fs.exists(d)) 0
        else fs.listStatus(d).count(_.getPath.getName.startsWith("compacted_g"))
      }
      maxLive.getAndUpdate(m => math.max(m, live.toLong))
      maxGens.getAndUpdate(m => math.max(m, gens.toLong))
      tBatch = System.nanoTime()
    }
    prober.start()
    try {
      (0 until nBatches).foreach { b =>
        val base = 2100000000L + b.toLong * batchDocs
        val puts = (0 until batchDocs).map(i =>
          (base + i, docText(base + i), "put"))
        // every 3rd batch tombstones the first 10 docs of batch b-2
        val dels = if (b % 3 == 2 && b >= 2) {
          val victim = 2100000000L + (b - 2).toLong * batchDocs
          (0 until 10).map(i => (victim + i, "", "del"))
        } else Nil
        tBatch = System.nanoTime()
        mem.addData(puts ++ dels)
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      stop.set(true)
      prober.join(30000)
    }
    // final serving state: last batch's doc top-1 at 1.0, deleted absent
    val lastDoc = 2100000000L + (nBatches - 1).toLong * batchDocs + 5
    val served = eng.searchIndexed(srcDir, docText(lastDoc), 10,
      deltaDir = Some(deltaDir)).collect()
    val lastOk = served.headOption.exists(r =>
      r.getLong(0) == lastDoc && r.getDouble(2) == 1.0)
    val deletedDoc = 2100000000L + 0L * batchDocs // batch 0 doc 0 — deleted at b=2
    val delServed = eng.searchIndexed(srcDir, docText(deletedDoc), 10,
      deltaDir = Some(deltaDir)).collect()
    val delOk = !delServed.exists(_.getLong(0) == deletedDoc)
    val third = math.max(1, nBatches / 3)
    val firstMean = batchSec.take(third).sum / third
    val lastMean = batchSec.takeRight(third).sum / third
    val flat = lastMean <= firstMean * 3.0
    val errs = probeErrors.toArray.take(3).mkString("; ")
    val ok = probeErrors.isEmpty && lastOk && delOk && flat &&
      maxLive.get <= compactEvery + 2 && maxGens.get <= 2
    println(s"""{"probe":"lsm-soak","batches":$nBatches,"batch_docs":$batchDocs,"compact_every":$compactEvery,"concurrent_probes":${probes.get},"probe_errors":${probeErrors.size},"probe_error_sample":"$errs","max_live_dirs":${maxLive.get},"max_generations":${maxGens.get},"first_third_mean_sec":${f"$firstMean%.3f"},"last_third_mean_sec":${f"$lastMean%.3f"},"latency_flat":$flat,"last_batch_served":$lastOk,"deleted_unserved":$delOk,"ok":$ok}""")
    ok
  }

  /** MAJOR-FOLD soak (--fold-soak [--batches N --batch-docs M
    * --fold-every F]): the serving-root discipline under real
    * concurrency — a single-writer ingest appends put/del batches to
    * the CURRENT epoch's delta and runs [[graft.search.AnnIndex
    * .majorFoldPublish]] every F batches (≥ 3 folds at the defaults),
    * while a CONCURRENT prober hammers
    * [[graft.search.AnnIndex.probeIvfPqRoot]] nonstop — every probe
    * resolves the pointer fresh, so probes land on BOTH sides of each
    * publish and inside each fold's write window. What it certifies,
    * per the round-14 verdict's ask (the resurrection-window fix):
    *
    *  - ZERO probe errors across every raced fold (grace GC keeps a
    *    pre-publish resolution's epoch + delta on disk for a full
    *    further cycle — no stale-directory reads);
    *  - ZERO main-only answers: a corpus doc deleted in the FIRST
    *    batch (and never re-put) must NEVER appear in any raced probe
    *    — the probe vector is that doc's own embedding, so serving it
    *    would be a 1.0 top-1 hit: any fold that retired tombstones
    *    before its publish landed turns this nonzero immediately;
    *  - fresh ingests never vanish: a sentinel doc put in batch 0
    *    with that same embedding must appear in EVERY probe (it
    *    out-scores everything, riding delta → folded main → delta
    *    history across all folds);
    *  - the root's directory count stays O(1): ≤ 2 epochs + 2 deltas
    *    + pointers at any observation (publish-then-retire keeps
    *    exactly one grace generation). */
  private def foldSoakProbe(spark: SparkSession, srcDir: String,
                            flags: Map[String, String]): Boolean = {
    import spark.implicits._
    import graft.search.AnnIndex
    import graft.search.AnnIndex.ServingRoot
    val nBatches = flags.get("batches").map(_.toInt).getOrElse(28)
    val batchDocs = flags.get("batch-docs").map(_.toInt).getOrElse(200)
    val foldEvery = flags.get("fold-every").map(_.toInt).getOrElse(7)
    val nProbe = graft.queries.AnnQueries.IvfNProbe
    val shortlist = graft.queries.AnnQueries.ServedShortlist
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = java.nio.file.Files
      .createTempDirectory("graft_fold_soak").toString + "/root"
    ServingRoot.init(spark,
      graft.queries.AnnQueries.ivfPqIndexDir(spark, srcDir), root,
      embedderSig = Some(new graft.search.HashingEmbedder().signature))
    // the raced pair: corpus doc DeletedId's own embedding probes; the
    // doc is deleted in batch 0 and a sentinel with the SAME embedding
    // is put in batch 0 — every probe must serve the sentinel at 1.0
    // and must never serve the deleted doc
    val deletedId = 9L
    val sentinelId = 2200000000L
    val qv = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .filter(col("vec_id") === deletedId)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probes = new java.util.concurrent.atomic.AtomicLong
    val resurrections = new java.util.concurrent.atomic.AtomicLong
    val sentinelMisses = new java.util.concurrent.atomic.AtomicLong
    val maxRootDirs = new java.util.concurrent.atomic.AtomicLong
    val probeErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val prober = new Thread(() => {
      while (!stop.get()) {
        try {
          val hits = AnnIndex.probeIvfPqRoot(spark, root, qv, 10, nProbe, shortlist)
            .collect().map(_.getLong(0)).toSet
          probes.incrementAndGet()
          if (hits.contains(deletedId)) resurrections.incrementAndGet()
          if (!hits.contains(sentinelId)) sentinelMisses.incrementAndGet()
          val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
            .count(_.getPath.getName.startsWith("epoch_"))
          maxRootDirs.getAndUpdate(m => math.max(m, dirs.toLong))
        } catch {
          case e: Throwable if !stop.get() =>
            probeErrors.add(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      }
    }, "graft-fold-prober")
    // the BATCH face races the same folds (round-16 verdict task 7):
    // searchJsonBatchRoot resolves the pointer once per batch and must
    // earn the same zero-resurrection record — its sentinel/victim are
    // TEXT-addressed docs (the tool embeds prompts), put in batch 0,
    // the victim deleted in batch 1; fallbacks count as failures (a
    // degraded answer hides a grace-GC bug the soak exists to catch)
    val txtSentinelId = 2190000001L
    val txtSentinelText = "fold soak batch sentinel basalt"
    val txtVictimId = 2190000002L
    val txtVictimText = "fold soak batch victim obsidian"
    val eng = new graft.search.SearchEngine(spark)
    val batchProbes = new java.util.concurrent.atomic.AtomicLong
    val batchResurrections = new java.util.concurrent.atomic.AtomicLong
    val batchSentinelMisses = new java.util.concurrent.atomic.AtomicLong
    val batchErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val fallbacksBefore = eng.indexFallbackCount.get()
    val batchProber = new Thread(() => {
      val prompts = Seq(txtSentinelText, txtVictimText,
        "fold soak doc 2200000050")
      while (!stop.get()) {
        try {
          val json = eng.searchJsonBatchRoot(srcDir, root, prompts, 10)
          batchProbes.incrementAndGet()
          if (!json.contains(s"\"doc_id\":$txtSentinelId"))
            batchSentinelMisses.incrementAndGet()
          if (json.contains(s"\"doc_id\":$txtVictimId"))
            batchResurrections.incrementAndGet()
        } catch {
          case e: Throwable if !stop.get() =>
            batchErrors.add(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
      }
    }, "graft-fold-batch-prober")
    def docVec(i: Long): Seq[Float] =
      new graft.search.HashingEmbedder(64).embed(s"fold soak doc $i").toSeq
    var folds = 0L
    var refits = 0L
    // --refit-every K: every K-th epoch swap is a FORCED REFIT
    // (driftMax 0 — rebuild quantizer+codebooks on the folded live
    // corpus) instead of a plain fold: the publish discipline is the
    // same, so racing probers must see the same zero
    // errors/resurrections/misses across refit swaps too
    val refitEvery = flags.get("refit-every").map(_.toInt).getOrElse(0)
    val t0 = System.nanoTime()
    try {
      (0 until nBatches).foreach { b =>
        val (idx, delta) = ServingRoot.resolve(spark, root)
        val base = 2200000001L + b.toLong * batchDocs
        val puts0 = (0 until batchDocs).map(i =>
          (base + i, docVec(base + i), s"fold soak doc ${base + i}"))
        val puts = if (b == 0)
          Seq((sentinelId, qv.toSeq, "fold soak sentinel"),
            (txtSentinelId,
              new graft.search.HashingEmbedder(64).embed(txtSentinelText).toSeq,
              txtSentinelText),
            (txtVictimId,
              new graft.search.HashingEmbedder(64).embed(txtVictimText).toSeq,
              txtVictimText)) ++ puts0
          else puts0
        // per-epoch batch ids restart at 0 — each delta is its own store
        val localId = (b % foldEvery).toLong
        AnnIndex.appendDeltaBatch(spark, idx, delta,
          puts.toDF("vec_id", "embedding", "text"), localId, compactEvery = 3)
        // batch 0 deletes the corpus doc; every 3rd batch deletes a
        // slice of batch b-2's docs (post-fold those live in the NEW
        // main — the tombstone-shadows-main path soaks too)
        val dels: Seq[Long] =
          (if (b == 0) Seq(deletedId) else Nil) ++
            (if (b == 1) Seq(txtVictimId) else Nil) ++
            (if (b % 3 == 2 && b >= 2)
              (0 until 5).map(i => 2200000001L + (b - 2).toLong * batchDocs + i)
            else Nil)
        if (dels.nonEmpty)
          AnnIndex.appendTombstones(spark, delta, dels.toDF("vec_id"),
            localId, compactEvery = 3)
        if (b == 0) prober.start() // sentinel + delete are in: race from here
        if (b == 1) batchProber.start() // the batch victim's delete is in
        if ((b + 1) % foldEvery == 0) {
          folds += 1
          if (refitEvery > 0 && folds % refitEvery == 0) {
            val (_, epoch) = AnnIndex.refitIfDrifted(spark, root,
              graft.queries.AnnQueries.IvfCells,
              graft.queries.AnnQueries.IvfPqSubDim,
              graft.queries.AnnQueries.IvfPqK,
              graft.queries.AnnQueries.IvfPqIters, driftMax = 0.0)
            require(epoch.nonEmpty, s"forced refit at fold $folds did not publish")
            refits += 1
          } else AnnIndex.majorFoldPublish(spark, root)
        }
      }
    } finally {
      stop.set(true)
      prober.join(30000)
      if (batchProber.isAlive) batchProber.join(60000)
    }
    val wallSec = (System.nanoTime() - t0) / 1e9
    // final state re-check from a fresh resolution
    val finalHits = AnnIndex.probeIvfPqRoot(spark, root, qv, 10, nProbe, shortlist)
      .collect().map(_.getLong(0)).toSet
    val finalOk = finalHits.contains(sentinelId) && !finalHits.contains(deletedId)
    val errs = probeErrors.toArray.take(3).mkString("; ")
    val batchErrs = batchErrors.toArray.take(3).mkString("; ")
    val batchFallbacks = eng.indexFallbackCount.get() - fallbacksBefore
    // ≤ 5 epoch-prefixed dirs at any observation: serving pair + grace
    // pair + at most one in-flight fold output — O(1), not O(folds)
    val ok = probeErrors.isEmpty && resurrections.get == 0 &&
      sentinelMisses.get == 0 && folds >= 3 && finalOk &&
      maxRootDirs.get <= 5 && (refitEvery <= 0 || refits >= 1) &&
      batchErrors.isEmpty && batchResurrections.get == 0 &&
      batchSentinelMisses.get == 0 && batchProbes.get > 0 &&
      batchFallbacks == 0
    println(s"""{"probe":"fold-soak","batches":$nBatches,"batch_docs":$batchDocs,"fold_every":$foldEvery,"folds":$folds,"refits":$refits,"concurrent_probes":${probes.get},"probe_errors":${probeErrors.size},"probe_error_sample":"$errs","resurrections":${resurrections.get},"sentinel_misses":${sentinelMisses.get},"batch_probes":${batchProbes.get},"batch_errors":${batchErrors.size},"batch_error_sample":"$batchErrs","batch_resurrections":${batchResurrections.get},"batch_sentinel_misses":${batchSentinelMisses.get},"batch_fallbacks":$batchFallbacks,"max_root_epoch_dirs":${maxRootDirs.get},"final_state_ok":$finalOk,"wall_sec":${f"$wallSec%.1f"},"ok":$ok}""")
    ok
  }

  /** [[paraProbe]] over a corpus of DISTINCT directions (--para-probe
    * --distinct --copies K ⇒ n = K·1000 synthetic vectors, each
    * dimension a portable-hash pseudo-uniform in [−1, 1]): the clone
    * fixture duplicates 2 000 directions c times, so entire clone
    * FAMILIES share buckets and even cross-base candidate mass grows
    * with c² — a degeneracy of that fixture, not of the rule (no hash
    * can separate identical directions; a real corpus grows by NEW
    * directions). Here every vector is its own direction, so the
    * candidate volume divided by n directly exhibits the
    * corpus-scaled rule's linearity. */
  private def paraProbeDistinct(spark: SparkSession, copies: Int): Boolean = {
    import spark.implicits._
    val n = copies * 1000L
    val (a, b) = graft.functions.PortableHash.BootPair
    val p = graft.functions.PortableHash.P
    // the QUADRATIC mix (affine y, then y² mod P + y — the media
    // fixtures' convention): a plain affine over k = id·64+i leaves a
    // lattice (consecutive dims share one stride), which projects
    // pathologically onto the hyperplanes; the mix breaks it
    val e = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i => {
        val y = (lit(a) * ((col("id") * 64 + i) % lit(p)) + lit(b)) % lit(p)
        (((y * y) % lit(p) + y) % lit(p) % 2001 - 1000)
          .cast("float") / lit(1000.0f)
      }).as("embedding"))
    val np = graft.functions.PortableHash.planesFor(n)
    val pops = e.withColumn("bucket",
        graft.functions.PortableHash.lshBucketScaled(col("embedding"), np))
      .groupBy(col("bucket")).agg(count(lit(1)).as("pop"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("pop * (pop - 1) DIV 2")).as("candidates"),
        max(col("pop")).as("max_pop"))
      .head()
    val cand = pops.getLong(1)
    println(s"""{"probe":"para-probe-distinct","n":$n,"n_planes":$np,"n_buckets":${pops.getLong(0)},"candidates":$cand,"max_pop":${pops.getLong(2)},"cand_per_n":${cand.toDouble / n}}""")
    true
  }

  /** Tombstone-volume probe (--tombstone-probe [--tombstones
    * n1,n2,…]): how the SERVING path behaves as deletes accumulate
    * between major folds — the round-14 verdict's open question about
    * the probe-side exclusion join's broadcast. For each tombstone
    * count: a fresh delta gets that many id-only tombstones (ids
    * DISJOINT from the corpus, so the probe's ANSWER must stay
    * bit-identical to the tombstone-free baseline while the exclusion
    * join still processes every id), then the LSM probe runs warm ×3.
    * Receipts per tier: store bytes, whether the size guard kept the
    * broadcast hint, the join operator the FINAL adaptive plan chose,
    * warm latency, and answer equality. The documented fold trigger
    * ([[graft.queries.AnnQueries.TombstoneFoldRows]]) sits at the top
    * of the measured-flat broadcast region. */
  private def tombstoneProbe(spark: SparkSession, outDir: String,
                             flags: Map[String, String]): Boolean = {
    import graft.search.AnnIndex
    import graft.queries.AnnQueries
    val counts = flags.get("tombstones")
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(100000L, 1000000L, 10000000L))
    val main = AnnQueries.ivfPqIndexDir(spark, outDir)
    val qv = spark.read.parquet(s"$outDir/embeddings.parquet")
      .filter(col("vec_id") === 0 && size(col("embedding")) === 64)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    def probeOnce(deltaDir: String) =
      AnnIndex.probeIvfPqLsm(spark, main, deltaDir, qv, 10,
        AnnQueries.IvfNProbe, AnnQueries.ServedShortlist)
    val baseDelta = java.nio.file.Files
      .createTempDirectory("graft_ts_probe_base").toString + "/delta"
    // an empty delta dir: the baseline the tombstoned answers must equal
    val baseline = probeOnce(baseDelta)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val tiers = counts.map { n =>
      val deltaDir = java.nio.file.Files
        .createTempDirectory(s"graft_ts_probe_$n").toString + "/delta"
      // SCATTERED ids (Knuth multiplicative hash), not a range: real
      // takedown ids are not consecutive, and a sequential range
      // delta-encodes to ~4 bits/id in parquet — flattering the store
      // bytes the broadcast guard reads by an order of magnitude
      AnnIndex.appendTombstones(spark, deltaDir,
        spark.range(n).select(
          (pmod(col("id") * 2654435761L, lit(3000000000L)) + 4000000000L)
            .as("vec_id")),
        batchId = 0L, compactEvery = 0)
      val bytes = graft.sources.SegmentStore
        .segments(fs, s"$deltaDir/tombstones")
        .map(p => fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength)
        .sum
      val reps = (1 to 3).map { _ =>
        val t = System.nanoTime()
        val got = probeOnce(deltaDir)
        val rows = got.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        ((System.nanoTime() - t) / 1e9, rows, got)
      }
      val warm = reps.map(_._1).min
      val equal = reps.forall(_._2 == baseline)
      // classify the TOMBSTONE EXCLUSION join specifically (the
      // LeftAnti operator) — the probe plan contains many OTHER
      // broadcast joins (centers, shortlist, payload) that must not
      // mask a degraded exclusion
      val planStr = reps.last._3.queryExecution.executedPlan.toString
      val joinOp = planStr.linesIterator
        .find(_.contains("LeftAnti"))
        .map { l =>
          if (l.contains("BroadcastHashJoin")) "broadcast"
          else if (l.contains("SortMergeJoin")) "sort_merge"
          else if (l.contains("ShuffledHashJoin")) "shuffled_hash"
          else "other"
        }.getOrElse("none")
      val hinted = bytes <= AnnIndex.TombstoneBroadcastMaxBytes
      s"""{"tombstones":$n,"store_bytes":$bytes,"broadcast_hinted":$hinted,"exclusion_join":"$joinOp","warm_sec":${f"$warm%.3f"},"answer_equals_baseline":$equal}"""
    }
    println(s"""{"probe":"tombstone-volume","n_corpus":${spark.read.parquet(s"$outDir/embeddings.parquet").count()},"fold_trigger_rows":${AnnQueries.TombstoneFoldRows},"broadcast_max_bytes":${AnnIndex.TombstoneBroadcastMaxBytes},"tiers":[${tiers.mkString(",")}]}""")
    true
  }

  /** Served tombstone-volume probe (--served-tombstone-probe
    * [--tombstones n1,n2,…]): [[tombstoneProbe]]'s question asked of
    * the SERVED routes, whose serving snapshot chooses its own
    * exclusion. A serving root over the clone's IVF-PQ artifact
    * accumulates scattered id-only tombstones tier by tier (each tier
    * appends one segment of new ids, disjoint from the corpus, so
    * every answer must equal the tombstone-free baseline). Receipts per
    * tier: store bytes, the first single `searchJsonRoot` call after
    * the append (it resolves the new snapshot), the median of three
    * warm singles, a first and a warm `searchJsonBatchRoot` call, the
    * process's live heap after full collections (local mode: the
    * driver and the block manager's cached frames), whether any call
    * degraded to the exact fallback, and answer equality. */
  private def servedTombstoneProbe(spark: SparkSession, srcDir: String,
                                   flags: Map[String, String]): Boolean = {
    import graft.search.AnnIndex
    import graft.search.AnnIndex.ServingRoot
    import graft.queries.AnnQueries
    val counts = flags.get("tombstones")
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(1000L, 10000L, 100000L, 1000000L))
    val mainDir = AnnQueries.ivfPqIndexDir(spark, srcDir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_served_ts_probe").toString + "/r"
    ServingRoot.init(spark, mainDir, root,
      embedderSig = Some(new graft.search.HashingEmbedder().signature))
    val (_, delta) = ServingRoot.resolve(spark, root)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val eng = new graft.search.SearchEngine(spark)
    def timed(f: => String): (String, Double) = {
      val t = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t) / 1e6)
    }
    def single() = timed(eng.searchJsonRoot(srcDir, root, AnnQueries.ServedPrompt, 10))
    def batch() = timed(
      eng.searchJsonBatchRoot(srcDir, root, AnnQueries.BatchServedPrompts, 10))
    def liveHeapMb(): Double = {
      val rt = Runtime.getRuntime
      (1 to 3).foreach(_ => System.gc())
      (rt.totalMemory - rt.freeMemory) / 1048576.0
    }
    val baseline = single()._1
    val baseWarm = (1 to 3).map(_ => single()._2).sorted.apply(1)
    val baseBatch = batch()._1
    val baseBatchWarm = batch()._2
    val heap0 = liveHeapMb()
    var have = 0L
    val tiers = counts.zipWithIndex.map { case (n, b) =>
      AnnIndex.appendTombstones(spark, delta,
        spark.range(have, n).select(
          (pmod(col("id") * 2654435761L, lit(3000000000L)) + 4000000000L)
            .as("vec_id")),
        batchId = b.toLong, compactEvery = 0)
      have = n
      val bytes = graft.sources.SegmentStore
        .segments(fs, s"$delta/tombstones")
        .map(p => fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength)
        .sum
      val fallbacks = eng.indexFallbackCount.get
      val (first, firstMs) = single()
      val warm = (1 to 3).map(_ => single())
      val (b1, batchFirstMs) = batch()
      val (b2, batchWarmMs) = batch()
      val heap = liveHeapMb()
      val equal = (first +: warm.map(_._1)).forall(_ == baseline) &&
        b1 == baseBatch && b2 == baseBatch
      val degraded = eng.indexFallbackCount.get - fallbacks
      s"""{"tombstones":$n,"store_bytes":$bytes,"first_ms":${f"$firstMs%.0f"},"warm_ms":${f"${warm.map(_._2).sorted.apply(1)}%.0f"},"batch_first_ms":${f"$batchFirstMs%.0f"},"batch_warm_ms":${f"$batchWarmMs%.0f"},"heap_live_mb":${f"$heap%.1f"},"degraded_calls":$degraded,"answers_equal_baseline":$equal}"""
    }
    println(s"""{"probe":"served-tombstone-volume","broadcast_max_bytes":${AnnIndex.TombstoneBroadcastMaxBytes},"baseline":{"warm_ms":${f"$baseWarm%.0f"},"batch_warm_ms":${f"$baseBatchWarm%.0f"},"heap_live_mb":${f"$heap0%.1f"}},"tiers":[${tiers.mkString(",")}]}""")
    true
  }

  /** Refit-actuation probe (--refit-probe [--shift-docs N]): at clone
    * scale, seed a serving root from the cloned corpus's IVF-PQ
    * artifact, ingest (a) an in-distribution batch — the gauge must
    * NOT trip — then (b) a distribution-shifted batch (every
    * dimension offset by +3.0, the 'ingest moved' scenario q174's
    * gauge exists for) — the gauge MUST trip and
    * [[graft.search.AnnIndex.refitIfDrifted]] rebuilds quantizer +
    * codebooks on the folded live corpus and publishes the next
    * epoch. Receipts: both ratios, the refit wall time, the post-refit
    * ratio of the very rows that tripped it, and an exact-top-10
    * equality check of the refitted root against brute force. */
  private def refitProbe(spark: SparkSession, outDir: String,
                         flags: Map[String, String]): Boolean = {
    import graft.search.AnnIndex
    import graft.search.AnnIndex.ServingRoot
    import graft.queries.AnnQueries
    val shiftDocs = flags.get("shift-docs").map(_.toInt).getOrElse(5000)
    val t0 = System.nanoTime()
    val mainDir = AnnQueries.ivfPqIndexDir(spark, outDir)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val root = java.nio.file.Files
      .createTempDirectory("graft_refit_probe").toString + "/r"
    ServingRoot.init(spark, mainDir, root,
      embedderSig = Some(new graft.search.HashingEmbedder().signature))
    val (idx0, delta0) = ServingRoot.resolve(spark, root)
    def actuate() = AnnIndex.refitIfDrifted(spark, root, AnnQueries.IvfCells,
      AnnQueries.IvfPqSubDim, AnnQueries.IvfPqK, AnnQueries.IvfPqIters,
      AnnQueries.RefitDriftMax)
    val corpus = spark.read.parquet(s"$outDir/embeddings.parquet")
      .filter(size(col("embedding")) === 64)
    AnnIndex.appendDeltaBatch(spark, idx0, delta0,
      corpus.limit(shiftDocs)
        .select((col("vec_id") + 910000000L).as("vec_id"), col("embedding")),
      0L, compactEvery = 0)
    val (inRatio, inRefit) = actuate()
    val shifted = corpus.limit(shiftDocs)
      .select((col("vec_id") + 920000000L).as("vec_id"),
        transform(col("embedding"), v => v + lit(3.0f)).as("embedding"))
    AnnIndex.appendDeltaBatch(spark, idx0, delta0, shifted, 1L, compactEvery = 0)
    val t1 = System.nanoTime()
    val (ratio, refitEpoch) = actuate()
    val refitSec = (System.nanoTime() - t1) / 1e9
    val (idx1, _) = ServingRoot.resolve(spark, root)
    val postShift = AnnIndex.meanDistortion(spark, idx1,
      shifted.select(col("embedding")))
    val postCorpus = AnnIndex.meanDistortion(spark, idx1,
      spark.read.parquet(s"$idx1/corpus").select(col("embedding")))
    val qv = shifted.orderBy(col("vec_id")).select(col("embedding"))
      .head().getSeq[Float](0).toArray
    // the shifted batch is an ADC-DEGENERATE cluster by construction
    // (clone vectors differing by 0.001 in one dimension land on one
    // refit centroid, so ADC cannot order them) — the standard
    // duplicate-cluster rule applies: the shortlist must cover the
    // cluster for the exact rescore to see every tied member
    val shortlist = math.max(AnnQueries.ServedShortlist, shiftDocs + 10)
    val got = AnnIndex.probeIvfPqRoot(spark, root, qv, 10,
      AnnQueries.IvfNProbe, shortlist)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = spark.read.parquet(s"$idx1/corpus")
      .select(col("vec_id"), round(graft.functions.VectorFunctions
        .neo4jScore(col("embedding"), typedLit(qv.toSeq)), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = got == want
    val ok = inRefit.isEmpty && inRatio <= AnnQueries.RefitDriftMax &&
      ratio > AnnQueries.RefitDriftMax && refitEpoch.contains(1L) && exact
    println(s"""{"probe":"refit","n_corpus":${corpus.count()},"shift_docs":$shiftDocs,"build_sec":${f"$buildSec%.1f"},"in_dist_ratio":${f"$inRatio%.4f"},"in_dist_refit":${inRefit.nonEmpty},"shifted_ratio":${f"$ratio%.2f"},"refit_epoch":${refitEpoch.getOrElse(-1L)},"refit_sec":${f"$refitSec%.1f"},"post_shift_mean":${f"$postShift%.4f"},"post_corpus_mean":${f"$postCorpus%.4f"},"post_ratio":${f"${postShift / postCorpus}%.4f"},"exact_top10":$exact,"ok":$ok}""")
    ok
  }

  /** Image/audio composed-key linearity probe (--band-cand-probe): on
    * the cloned corpus, fingerprint every doc (REAL decode) and report,
    * per modality, the banded join's CANDIDATE volume Σ pop·(pop−1)/2
    * under the plain 16-bit band key (j, v) — the round-14 verdict's
    * flagged ~n²/2¹⁶ term — and under the shipped COMPOSED key
    * (j, v, m) with the exact quarter mass. Run at several --copies:
    * the composed column must grow ~linearly in n while the plain
    * column grows quadratically. Also reports planted-pair RETENTION:
    * verified same-group pairs (exact Hamming ≤ cut) found under each
    * rule — what the mass constraint costs in recall on the synthetic
    * fixture (the video family's measured trade, re-measured here).
    * The plain-rule verified join is itself the quadratic object, so
    * it is skipped above --plain-pairs-max docs (volumes, which are
    * aggregates over bucket populations, always run). */
  private def bandCandProbe(spark: SparkSession, outDir: String,
                            copies: Int, flags: Map[String, String]): Boolean = {
    import graft.multimodal.Multimodal
    import graft.queries.MultimodalQueries
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
      .select(col("doc_id"))
    val plainPairsMax = flags.get("plain-pairs-max").map(_.toLong)
      .getOrElse(1300000L)
    val g = Multimodal.VariantGroupSize
    def modality(tag: String, bands: DataFrame, maxHamming: Long): String = {
      val t0 = System.nanoTime()
      val ex = MultimodalQueries.explodeBandKeys(bands)
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try {
        val n = bands.count()
        def vol(keys: Seq[String]): (Long, Long) = {
          val r = ex.groupBy(keys.map(col): _*).agg(count(lit(1)).as("pop"))
            .agg(sum(expr("pop * (pop - 1) DIV 2")).as("cand"),
              max(col("pop")).as("max_pop")).head()
          (r.getLong(0), r.getLong(1))
        }
        val (plainVol, plainMax) = vol(Seq("j", "v"))
        val (compVol, compMax) = vol(Seq("j", "v", "m"))
        // verified pairs under each rule, split planted (same variant
        // group) vs cross-group; distinct-dedup replaces the claim
        // trick — counts are identical, and a probe can afford the
        // extra shuffle the production claim avoids
        def pairs(keys: Seq[String]): (Long, Long) = {
          val carried = Seq("j", "v", "m") ++ (0 until 4).map(i => s"band$i")
          val a = ex.select(col("doc_id").as("doc_a") +:
            carried.map(c => col(c).as(s"a_$c")): _*)
          val b = ex.select(col("doc_id").as("doc_b") +:
            carried.map(c => col(c).as(s"b_$c")): _*)
          val ham = (0 until 4)
            .map(i => bit_count(col(s"a_band$i").bitwiseXOR(col(s"b_band$i"))).cast("long"))
            .reduce(_ + _)
          val r = a.join(b, keys.map(k => col(s"a_$k") === col(s"b_$k"))
              .reduce(_ && _) && col("doc_a") < col("doc_b"))
            .filter(ham <= lit(maxHamming))
            .select(col("doc_a"), col("doc_b")).distinct()
            .agg(
              sum(when(col("doc_a").divide(g).cast("long") ===
                col("doc_b").divide(g).cast("long"), 1L).otherwise(0L)).as("planted"),
              count(lit(1)).as("total")).head()
          (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
        }
        val (compPlanted, compTotal) = pairs(Seq("j", "v", "m"))
        val (plainPlanted, plainTotal) =
          if (n <= plainPairsMax) pairs(Seq("j", "v")) else (-1L, -1L)
        val sec = (System.nanoTime() - t0) / 1e9
        s"""\"$tag\":{\"n\":$n,\"plain_cand\":$plainVol,\"plain_cand_per_n\":${plainVol.toDouble / n},\"plain_max_pop\":$plainMax,\"composed_cand\":$compVol,\"composed_cand_per_n\":${compVol.toDouble / n},\"composed_max_pop\":$compMax,\"plain_pairs_planted\":$plainPlanted,\"plain_pairs_total\":$plainTotal,\"composed_pairs_planted\":$compPlanted,\"composed_pairs_total\":$compTotal,\"sec\":${f"$sec%.1f"}}"""
      } finally ex.unpersist(blocking = false)
    }
    val img = modality("image",
      Multimodal.imageAHashBands(Multimodal.ingestSynthVariantImages(docs))
        .select(Seq(col("doc_id")) ++ (0 until 4).map(j => col(s"band$j")) ++
          (0 until 4).map(j => col(s"qt$j")): _*),
      MultimodalQueries.PhashMaxHamming)
    val aud = modality("audio",
      Multimodal.audioFingerprintBands(Multimodal.ingestSynthVariantAudio(docs))
        .select(Seq(col("doc_id")) ++ (0 until 4).map(j => col(s"band$j")) ++
          (0 until 4).map(j => col(s"qt$j")): _*),
      MultimodalQueries.AfpMaxHamming)
    println(s"""{"probe":"band-cand","copies":$copies,$img,$aud}""")
    true
  }



  /** Serve-loop maintenance probe (--maintain-probe [--tombstones N]):
    * the TombstoneFoldRows actuator END TO END — a LIVE `Search.serve`
    * loop (`--root --maintain-every 3` semantics) whose delta carries
    * N > trigger tombstones (scattered synthetic ids that shadow
    * nothing real, plus ONE real delete whose absence proves
    * correctness). Round 17: the fold runs on the BACKGROUND
    * sequencer, so the receipt now measures the claim the round-16
    * verdict asked for — request latency FLAT THROUGH the fold window
    * (requests keep answering from the current pointer while the fold
    * runs; the next request after the publish serves the new epoch,
    * bit-identical). Also adjudicates the post-fold latency step
    * (round-16 "What's wrong #2"): post_fold_first is the new epoch's
    * COLD first touch, post_fold_warm is its steady state — warm ≤
    * pre-fold warm is the claim (the folded epoch has an empty delta
    * and physically dropped tombstones). */
  private def maintainProbe(spark: SparkSession, srcDir: String,
                            flags: Map[String, String]): Boolean = {
    import graft.search.AnnIndex
    import graft.search.AnnIndex.ServingRoot
    import graft.queries.AnnQueries
    val n = flags.get("tombstones").map(_.toLong)
      .getOrElse(AnnQueries.TombstoneFoldRows + 200000L)
    val mainDir = AnnQueries.ivfPqIndexDir(spark, srcDir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_maintain_probe").toString + "/r"
    ServingRoot.init(spark, mainDir, root,
      embedderSig = Some(new graft.search.HashingEmbedder().signature))
    val (_, delta0) = ServingRoot.resolve(spark, root)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // the real delete: the served prompt's exact top-1 must unserve
    val eng = new graft.search.SearchEngine(spark)
    val prompt = AnnQueries.ServedPrompt
    val victim = {
      import org.json4s._
      val JArray(hits) = org.json4s.jackson.JsonMethods
        .parse(eng.searchJsonRoot(srcDir, root, prompt, 10)): @unchecked
      (hits.head \ "doc_id").asInstanceOf[JInt].num.longValue
    }
    AnnIndex.appendTombstones(spark, delta0,
      spark.range(n).select(
        (pmod(col("id") * 2654435761L, lit(3000000000L)) + 4000000000L)
          .as("vec_id")),
      batchId = 0L, compactEvery = 0)
    AnnIndex.appendTombstones(spark, delta0,
      spark.range(victim, victim + 1).select(col("id").as("vec_id")),
      batchId = 1L, compactEvery = 0)
    val capBefore = AnnIndex.tombstoneRowCap(spark, delta0)
    // the live server: maintenance every 3 tool calls, so requests
    // 1–2 measure the warm pre-fold state and request 3 enqueues
    val outBuf = new java.io.ByteArrayOutputStream()
    val toServer = new java.io.PipedOutputStream()
    val fromProbe = new java.io.PrintStream(toServer, true, "UTF-8")
    val serverIn = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.io.PipedInputStream(toServer, 1 << 16), "UTF-8"))
    val server = new Thread(() => {
      Search.serve(eng, srcDir, 10, serverIn,
        new java.io.PrintStream(outBuf, true, "UTF-8"),
        root = Some(root), maintainEvery = 3)
    }, "graft-maintain-serve")
    server.start()
    // count only COMPLETE (newline-terminated) lines: the PrintStream
    // flushes large responses in chunks, and a partial chunk must not
    // be read as an answer
    def lines() = {
      val all = outBuf.toString("UTF-8")
      all.substring(0, all.lastIndexOf('\n') + 1)
        .split("\n").filter(_.nonEmpty).toSeq
    }
    def request(line: String): (String, Double) = {
      val before = lines().size
      val t0 = System.nanoTime()
      fromProbe.println(line)
      val deadline = System.nanoTime() + 600L * 1000 * 1000 * 1000
      while (lines().size <= before) {
        if (System.nanoTime() >= deadline)
          throw new IllegalStateException(s"serve timed out on: $line")
        Thread.sleep(20)
      }
      (lines().last, (System.nanoTime() - t0) / 1e9)
    }
    def epoch(): Long = ServingRoot.currentEpoch(fs, root).getOrElse(-1L)
    // the BATCH face rides the same window: one vector_search_batch
    // MCP call per spin, so the flat-latency claim covers both tool
    // routes (round-17 verdict "next #7")
    var mcpId = 0
    def batchRequest(): (String, Double) = {
      mcpId += 1
      val args = graft.queries.AnnQueries.BatchServedPrompts
        .map(p => s""""$p"""").mkString(",")
      request(s"""{"jsonrpc":"2.0","id":$mcpId,"method":"tools/call","params":{"name":"${Mcp.BatchToolName}","arguments":{"prompts":[$args]}}}""")
    }
    val (r1, r1Sec) = request(prompt)          // first through the server
    val (r2, warmPreSec) = request(prompt)     // warm pre-fold
    val (b1, batchFirstSec) = batchRequest()   // batch, cold first touch
    val (b2, warmPreBatchSec) = batchRequest() // batch, warm pre-fold
    val (r3, r3Sec) = request(prompt)          // answers, then enqueues
    // THE claim: requests keep answering WHILE the fold runs — issue
    // requests until the publish lands, recording each latency; every
    // one sent while the pointer still read epoch 0 served inside the
    // fold window
    val during = scala.collection.mutable.ArrayBuffer.empty[Double]
    val duringBatch = scala.collection.mutable.ArrayBuffer.empty[Double]
    var answers = List(r3, r2, r1)
    var batchAnswers = List(b2, b1)
    var spins = 0
    while (epoch() == 0L && spins < 50) {
      spins += 1
      val (r, sec) = request(prompt)
      answers ::= r
      during += sec
      if (epoch() == 0L) {
        val (br, bsec) = batchRequest()
        batchAnswers ::= br
        duringBatch += bsec
      }
    }
    val foldObserved = epoch() == 1L
    val (p1, postFirstSec) = request(prompt)   // new epoch, cold first touch
    val (p2, postWarmSec) = request(prompt)    // new epoch, warm
    val (pb, postBatchSec) = batchRequest()    // batch against the new epoch
    answers = p2 :: p1 :: answers
    batchAnswers ::= pb
    fromProbe.close()
    server.join(600000)
    val epochAfter = epoch()
    val (_, delta1) = ServingRoot.resolve(spark, root)
    val capAfter = AnnIndex.tombstoneRowCap(spark, delta1)
    val victimGone = (answers ++ batchAnswers)
      .forall(!_.contains(s"\"doc_id\":$victim"))
    val identical = answers.distinct.size == 1
    // MCP response ids differ per call; identity is over the RESULT
    // payload (strip the envelope id)
    val batchIdentical = batchAnswers
      .map(_.replaceFirst(""""id":\d+,""", "")).distinct.size == 1
    val duringMax = if (during.isEmpty) 0.0 else during.max
    val duringBatchMax = if (duringBatch.isEmpty) 0.0 else duringBatch.max
    val ok = epochAfter == 1L && identical && victimGone &&
      batchIdentical &&
      capBefore > AnnQueries.TombstoneFoldRows && capAfter == 0L &&
      foldObserved && during.nonEmpty && duringBatch.nonEmpty
    println(s"""{"probe":"serve-maintain","tombstones_planted":$n,"cap_before":$capBefore,"fold_trigger":${AnnQueries.TombstoneFoldRows},"epoch_after_maintenance":$epochAfter,"cap_after":$capAfter,"answers_bit_identical":$identical,"batch_answers_bit_identical":$batchIdentical,"victim_unserved":$victimGone,"first_req_sec":${f"$r1Sec%.2f"},"warm_pre_fold_sec":${f"$warmPreSec%.2f"},"batch_first_sec":${f"$batchFirstSec%.2f"},"warm_pre_fold_batch_sec":${f"$warmPreBatchSec%.2f"},"trigger_req_sec":${f"$r3Sec%.2f"},"reqs_during_fold":${during.size},"during_fold_sec":[${during.map(d => f"$d%.2f").mkString(",")}],"during_fold_max_sec":${f"$duringMax%.2f"},"batch_reqs_during_fold":${duringBatch.size},"during_fold_batch_sec":[${duringBatch.map(d => f"$d%.2f").mkString(",")}],"during_fold_batch_max_sec":${f"$duringBatchMax%.2f"},"post_fold_first_sec":${f"$postFirstSec%.2f"},"post_fold_warm_sec":${f"$postWarmSec%.2f"},"post_fold_batch_sec":${f"$postBatchSec%.2f"},"ok":$ok}""")
    ok
  }

  /** Batched-serving decade-up (--batch-probe [--prompts N]): the q186
    * economy claim measured at the scale it was designed for (round-16
    * verdict "What's missing #3") — a FULL batch
    * ([[graft.search.SearchEngine.MaxBatchPrompts]] prompts by
    * default) against the clone corpus, answered two ways: ONE
    * [[graft.search.SearchEngine.searchIndexedBatch]] plan vs the
    * same prompts through sequential per-prompt [[graft.search
    * .SearchEngine.searchIndexed]] calls. Asserts per-prompt
    * bit-equality (id, text, 6-dp score — batch == per-prompt at
    * clone scale, not just fixtures) and reports the amortization
    * ratio; the batched run repeats once so the warm number is the
    * steady state. */
  private def batchProbe(spark: SparkSession, outDir: String,
                         flags: Map[String, String]): Boolean = {
    val nPrompts = flags.get("prompts").map(_.toInt)
      .getOrElse(graft.search.SearchEngine.MaxBatchPrompts)
    val eng = new graft.search.SearchEngine(spark)
    // deterministic prompt set spanning token space — the probe
    // measures plan economy, not retrieval quality
    val words = Seq("hash", "join", "merge", "sort", "shuffle", "scan",
      "index", "batch", "stream", "fold", "probe", "vector", "cosine",
      "filter", "union", "window")
    val prompts = (0 until nPrompts).map(i =>
      s"batch probe ${words(i % words.size)} ${words((i / words.size) % words.size)} query $i")
    val nDocs = spark.read.parquet(s"$outDir/documents.parquet").count()
    // index built/loaded session-once; a first batched call warms it
    def runBatched(): (Seq[Seq[graft.search.SearchHit]], Double) = {
      val t0 = System.nanoTime()
      val r = eng.searchIndexedBatch(outDir, prompts, 10)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, batchedColdSec) = runBatched()
    val (batched, batchedWarmSec) = runBatched()
    val t1 = System.nanoTime()
    val sequential = prompts.map(p =>
      eng.searchIndexed(outDir, p, 10)
        .as[graft.search.SearchHit](org.apache.spark.sql.Encoders.product)
        .collect().toSeq)
    val seqSec = (System.nanoTime() - t1) / 1e9
    val equal = batched.size == sequential.size &&
      batched.zip(sequential).forall { case (b, s) => b == s }
    val amort = if (batchedWarmSec == 0.0) 0.0 else seqSec / batchedWarmSec
    val ok = equal && batched.forall(_.nonEmpty)
    println(s"""{"probe":"batch-probe","prompts":$nPrompts,"corpus_docs":$nDocs,"batched_cold_sec":${f"$batchedColdSec%.1f"},"batched_warm_sec":${f"$batchedWarmSec%.1f"},"sequential_sec":${f"$seqSec%.1f"},"amortization":${f"$amort%.1f"},"answers_equal":$equal,"ok":$ok}""")
    ok
  }

  /** Media takedown-volume probe (--takedown-probe [--markers a,b,...]):
    * the media face of [[tombstoneProbe]] — measures the size-gated
    * static-shadow hint ([[graft.queries.MultimodalQueries.TakedownBroadcastMaxRows]])
    * against a REAL q178-shaped lifecycle probe at clone scale. The
    * store carries the graduated batch's data rows, the carve's
    * markers, and N SYNTHETIC scattered-id markers (docs that exist
    * nowhere, so they shadow nothing real and every tier's answer
    * must be BIT-IDENTICAL to the baseline while the anti-join's
    * build side grows 100×). Receipts per tier: raw marker rows,
    * whether the hint fired, which physical join served the static
    * shadow, warm latency, answer equality. */
  private def takedownProbe(spark: SparkSession, outDir: String,
                            flags: Map[String, String]): Boolean = {
    import graft.multimodal.Multimodal
    import graft.queries.MultimodalQueries
    val counts = flags.get("markers")
      .map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(100000L, 1000000L, 2500000L, 10000000L))
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
      .select(col("doc_id"))
    val bands = Multimodal
      .imageDHashBands(Multimodal.ingestSynthVariantImages(docs))
      .select(Seq(col("doc_id")) ++ (0 until 4).map(j => col(s"band$j")) ++
        (0 until 4).map(j => col(s"qt$j")): _*)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val nDocs = bands.count()
      val base = java.nio.file.Files
        .createTempDirectory("graft_td_probe").toString
      // static artifact: the old corpus's exploded band keys (q158's
      // layout), decoded once
      MultimodalQueries.explodeBandKeys(
          bands.filter(pmod(col("doc_id"), lit(MultimodalQueries.PhashProbeNewMod))
            < MultimodalQueries.PhashProbeNewMin))
        .write.mode("overwrite").partitionBy("j").parquet(s"$base/static")
      val staticBands = spark.read.parquet(s"$base/static")
      val b1 = bands.filter(
        pmod(col("doc_id"), lit(MultimodalQueries.PhashProbeNewMod))
          >= MultimodalQueries.PhashProbeNewMin &&
        pmod(col("doc_id"), lit(MultimodalQueries.PhashLsmBatchMod)) === 0)
      val b2 = bands.filter(
        pmod(col("doc_id"), lit(MultimodalQueries.PhashProbeNewMod))
          >= MultimodalQueries.PhashProbeNewMin &&
        pmod(col("doc_id"), lit(MultimodalQueries.PhashLsmBatchMod)) === 1)
      val carve = docs.filter(
        pmod(col("doc_id"), lit(MultimodalQueries.TakedownMod))
          === MultimodalQueries.TakedownRem)
      def mkStore(n: Long): String = {
        val dir = s"$base/store_$n"
        graft.sources.SegmentStore.ensureFormat(
          org.apache.hadoop.fs.FileSystem.get(
            spark.sparkContext.hadoopConfiguration),
          dir, MultimodalQueries.ImageBandFamily)
        graft.sources.SegmentStore.appendBatch(spark, dir,
          MultimodalQueries.bandStoreRows(b1), 0L, compactEvery = 0,
          partitionCol = "j", dedupKeys = Seq("doc_id", "j"))
        graft.sources.SegmentStore.appendBatch(spark, dir,
          MultimodalQueries.bandTakedownMarkers(carve), 1L, compactEvery = 0,
          partitionCol = "j", dedupKeys = Seq("doc_id", "j"))
        if (n > 0)
          // SCATTERED synthetic ids outside every real id range (the
          // tombstone probe's argument: consecutive ids flatter both
          // the store bytes and the join)
          graft.sources.SegmentStore.appendBatch(spark, dir,
            MultimodalQueries.bandTakedownMarkers(
              spark.range(n).select(
                (pmod(col("id") * 2654435761L, lit(3000000000L)) + 4000000000L)
                  .as("doc_id"))),
            2L, compactEvery = 0,
            partitionCol = "j", dedupKeys = Seq("doc_id", "j"))
        dir
      }
      def runOnce(storeDir: String) =
        MultimodalQueries.graduatedBandProbe(spark, staticBands, storeDir,
          b2, MultimodalQueries.PhashMaxHamming,
          MultimodalQueries.ImageBandFamily)
      val baseline = runOnce(mkStore(0L))
        .collect().map(_.toString).toSeq
      val tiers = counts.map { n =>
        val dir = mkStore(n)
        val cap = MultimodalQueries.markerRowCap(
          graft.sources.SegmentStore.read(spark, dir), "j")
        val hinted = cap <= MultimodalQueries.TakedownBroadcastMaxRows
        val reps = (1 to 3).map { _ =>
          val t = System.nanoTime()
          val df = runOnce(dir)
          val rows = df.collect().map(_.toString).toSeq
          ((System.nanoTime() - t) / 1e9, rows, df)
        }
        val warm = reps.map(_._1).min
        val equal = reps.forall(_._2 == baseline)
        // classify the STATIC-SHADOW anti-join specifically
        val planStr = reps.last._3.queryExecution.executedPlan.toString
        val joinOp = planStr.linesIterator
          .find(_.contains("LeftAnti"))
          .map { l =>
            if (l.contains("BroadcastHashJoin")) "broadcast"
            else if (l.contains("SortMergeJoin")) "sort_merge"
            else if (l.contains("ShuffledHashJoin")) "shuffled_hash"
            else "other"
          }.getOrElse("none")
        s"""{"synthetic_markers":$n,"marker_row_cap":$cap,"broadcast_hinted":$hinted,"shadow_join":"$joinOp","warm_sec":${f"$warm%.3f"},"answer_equals_baseline":$equal}"""
      }
      println(s"""{"probe":"takedown-volume","n_docs":$nDocs,"broadcast_max_rows":${MultimodalQueries.TakedownBroadcastMaxRows},"tiers":[${tiers.mkString(",")}]}""")
      true
    } finally bands.unpersist(blocking = false)
  }


  /** Media rebuild economics at clone scale (--rebuild-probe
    * [--markers N]): the q182 fold measured as a TRADE — a takedown-
    * heavy store (graduated batch + carve markers + N synthetic
    * scattered markers) costs every lifecycle probe its LWW window and
    * shadow anti-join; the rebuild pays ONE bounded fold (static ∪
    * store, write a fresh generation) and the post-rebuild probe pays
    * neither, forever. Receipts: pre-rebuild probe warm, rebuild wall,
    * post-rebuild probe warm, and the answers' exact equivalence
    * (lifecycle's two counts summed == rebuilt single count, row for
    * row). */
  private def rebuildProbe(spark: SparkSession, outDir: String,
                           flags: Map[String, String]): Boolean = {
    import graft.multimodal.Multimodal
    import graft.queries.MultimodalQueries
    val n = flags.get("markers").map(_.toLong).getOrElse(1000000L)
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
      .select(col("doc_id"))
    val bands = Multimodal
      .imageDHashBands(Multimodal.ingestSynthVariantImages(docs))
      .select(Seq(col("doc_id")) ++ (0 until 4).map(j => col(s"band$j")) ++
        (0 until 4).map(j => col(s"qt$j")): _*)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val nDocs = bands.count()
      val base = java.nio.file.Files
        .createTempDirectory("graft_rb_probe").toString
      MultimodalQueries.explodeBandKeys(
          bands.filter(pmod(col("doc_id"), lit(MultimodalQueries.PhashProbeNewMod))
            < MultimodalQueries.PhashProbeNewMin))
        .write.mode("overwrite").partitionBy("j").parquet(s"$base/static")
      val b1 = bands.filter(
        pmod(col("doc_id"), lit(MultimodalQueries.PhashProbeNewMod))
          >= MultimodalQueries.PhashProbeNewMin &&
        pmod(col("doc_id"), lit(MultimodalQueries.PhashLsmBatchMod)) === 0)
      val b2 = bands.filter(
        pmod(col("doc_id"), lit(MultimodalQueries.PhashProbeNewMod))
          >= MultimodalQueries.PhashProbeNewMin &&
        pmod(col("doc_id"), lit(MultimodalQueries.PhashLsmBatchMod)) === 1)
      val store = s"$base/store"
      graft.sources.SegmentStore.ensureFormat(
        org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration),
        store, MultimodalQueries.ImageBandFamily)
      graft.sources.SegmentStore.appendBatch(spark, store,
        MultimodalQueries.bandStoreRows(b1), 0L, compactEvery = 0,
        partitionCol = "j", dedupKeys = Seq("doc_id", "j"))
      graft.sources.SegmentStore.appendBatch(spark, store,
        MultimodalQueries.bandTakedownMarkers(docs.filter(
          pmod(col("doc_id"), lit(MultimodalQueries.TakedownMod))
            === MultimodalQueries.TakedownRem)),
        1L, compactEvery = 0, partitionCol = "j", dedupKeys = Seq("doc_id", "j"))
      graft.sources.SegmentStore.appendBatch(spark, store,
        MultimodalQueries.bandTakedownMarkers(
          spark.range(n).select(
            (pmod(col("id") * 2654435761L, lit(3000000000L)) + 4000000000L)
              .as("doc_id"))),
        2L, compactEvery = 0, partitionCol = "j", dedupKeys = Seq("doc_id", "j"))
      val staticBands = spark.read.parquet(s"$base/static")
      def collectSorted(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val preReps = (1 to 3).map { _ =>
        val t = System.nanoTime()
        val out = MultimodalQueries.graduatedBandProbe(spark, staticBands,
          store, b2, MultimodalQueries.PhashMaxHamming,
          MultimodalQueries.ImageBandFamily)
          .select(col("doc_id"),
            (col("n_dup_old") + col("n_dup_graduated")).as("n_dup"),
            col("accepted"))
        val rows = collectSorted(out)
        ((System.nanoTime() - t) / 1e9, rows)
      }
      val tR = System.nanoTime()
      MultimodalQueries.bandStaticRebuild(spark, s"$base/static", store,
        s"$base/rebuilt", "j")
      val rebuildSec = (System.nanoTime() - tR) / 1e9
      val rebuilt = spark.read.parquet(s"$base/rebuilt")
      val postReps = (1 to 3).map { _ =>
        val t = System.nanoTime()
        val rows = collectSorted(MultimodalQueries.rebuiltBandProbePub(
          spark, rebuilt, b2, MultimodalQueries.PhashMaxHamming))
        ((System.nanoTime() - t) / 1e9, rows)
      }
      val equal = preReps.map(_._2).toSet.size == 1 &&
        postReps.map(_._2).toSet.size == 1 &&
        preReps.head._2 == postReps.head._2
      println(s"""{"probe":"rebuild-economics","n_docs":$nDocs,"synthetic_markers":$n,"pre_probe_warm_sec":${f"${preReps.map(_._1).min}%.3f"},"rebuild_sec":${f"$rebuildSec%.3f"},"post_probe_warm_sec":${f"${postReps.map(_._1).min}%.3f"},"answers_equal":$equal}""")
      equal
    } finally bands.unpersist(blocking = false)
  }

  /** Media-store concurrency soak (--media-soak [--batches N
    * --batch-docs M --compact-every C --takedown-every T]): the
    * fold-soak discipline pointed at a BAND store — a single writer
    * streams data batches (synthetic band rows; the soak certifies
    * store discipline, not hashing) and periodic takedown batches
    * through [[graft.sources.SegmentStore.appendBatch]] with real
    * compactions, while a concurrent prober continuously resolves
    * the store and re-derives the LIFECYCLE liveness (the
    * (doc_id, j) last-writer-wins rule every media probe runs):
    * a taken-down doc must NEVER serve once its marker batch commits
    * (resurrection = 0), a never-deleted sentinel must ALWAYS serve
    * (miss = 0), zero probe errors racing folds, O(1) store dirs.
    * Mid-soak a STATIC REBUILD ([[graft.queries.MultimodalQueries.bandStaticRebuild]])
    * races the probes too — it only reads immutable segments and
    * writes elsewhere, and its output is checked for the same
    * liveness. */
  private def mediaSoakProbe(spark: SparkSession, srcDir: String,
                             flags: Map[String, String]): Boolean = {
    import graft.queries.MultimodalQueries
    val nBatches = flags.get("batches").map(_.toInt).getOrElse(60)
    val batchDocs = flags.get("batch-docs").map(_.toInt).getOrElse(500)
    val compactEvery = flags.get("compact-every").map(_.toInt).getOrElse(2)
    val takedownEvery = flags.get("takedown-every").map(_.toInt).getOrElse(3)
    val base = java.nio.file.Files
      .createTempDirectory("graft_media_soak").toString
    val storeDir = s"$base/store"
    val t0 = System.nanoTime()
    // synthetic band rows: deterministic 16-bit bands + masses from
    // the doc id — the store neither knows nor cares they are not
    // decoded pixels
    def synthBands(ids: org.apache.spark.sql.DataFrame) =
      ids.select(Seq(col("doc_id")) ++
        (0 until 4).map(j => pmod(col("doc_id") * (j * 2 + 3), lit(65536L)).as(s"band$j")) ++
        (0 until 4).map(j => (pmod(col("doc_id") * (j * 7 + 11), lit(100000L)) + 1L).as(s"qt$j")): _*)
    val sentinelId = 1L // ingested in batch 0, never deleted
    // what the writer has committed so far (read by the prober)
    val committedBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val takenDownIds =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probes = new java.util.concurrent.atomic.AtomicLong
    val resurrections = new java.util.concurrent.atomic.AtomicLong
    val sentinelMisses = new java.util.concurrent.atomic.AtomicLong
    val maxSegments = new java.util.concurrent.atomic.AtomicLong
    val probeErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val prober = new Thread(() => {
      while (!stop.get()) {
        try {
          if (committedBatch.get() >= 0L) {
            // the snapshot of deletes KNOWN COMMITTED before resolving
            // the store: anything in this set must not serve
            val mustBeGone = new java.util.HashSet(takenDownIds)
            val fs = org.apache.hadoop.fs.FileSystem.get(
              spark.sparkContext.hadoopConfiguration)
            maxSegments.getAndUpdate(m => math.max(m,
              graft.sources.SegmentStore.segments(fs, storeDir).size.toLong))
            val raw = graft.sources.SegmentStore.read(spark, storeDir)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("doc_id"), col("j"))
              .orderBy(col(graft.sources.SegmentStore.BatchCol).desc)
            val live = raw
              .withColumn("_rn", row_number().over(w))
              .filter(col("_rn") === 1)
              .filter(!col("_del") && col("j") === 0)
              .select(col("doc_id"))
            val gone = new java.util.ArrayList(mustBeGone)
            val ids = (sentinelId +: gone.toArray.map(_.asInstanceOf[Long]).toSeq)
            val served = live.filter(col("doc_id").isin(ids: _*))
              .select(col("doc_id")).collect().map(_.getLong(0)).toSet
            if (!served.contains(sentinelId)) sentinelMisses.incrementAndGet()
            gone.forEach { id =>
              if (served.contains(id)) resurrections.incrementAndGet()
            }
            probes.incrementAndGet()
          }
        } catch {
          case e: Throwable =>
            probeErrors.add(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }, "graft-media-soak-prober")
    prober.start()
    var rebuildOk = true
    var takedownBatches = 0
    try {
      for (b <- 0 until nBatches) {
        val lo = b.toLong * batchDocs + 1L
        val ids = spark.range(lo, lo + batchDocs).select(col("id").as("doc_id"))
        graft.sources.SegmentStore.appendBatch(spark, storeDir,
          MultimodalQueries.bandStoreRows(synthBands(ids)),
          b.toLong * 2, compactEvery, "j", Seq("doc_id", "j"))
        committedBatch.set(b.toLong * 2)
        if (b > 0 && b % takedownEvery == 0) {
          // take down a slice of a PRIOR batch (never the sentinel)
          val priorLo = (b - 1).toLong * batchDocs + 1L
          val victims = (priorLo until priorLo + 20L)
          graft.sources.SegmentStore.appendBatch(spark, storeDir,
            MultimodalQueries.bandTakedownMarkers(
              spark.range(victims.head, victims.last + 1L)
                .select(col("id").as("doc_id"))),
            b.toLong * 2 + 1, compactEvery, "j", Seq("doc_id", "j"))
          committedBatch.set(b.toLong * 2 + 1)
          victims.foreach(v => takenDownIds.add(v))
          takedownBatches += 1
        }
        if (b == nBatches / 2) {
          // mid-soak static rebuild racing the probes: fold a tiny
          // static artifact (doc 0 — never ingested, never deleted)
          // with the store into a fresh generation, then check the
          // SAME liveness invariants on the artifact
          val seedStatic = s"$base/static_seed"
          MultimodalQueries.bandStoreRows(synthBands(
              spark.range(0L, 1L).select(col("id").as("doc_id"))))
            .drop("_del")
            .write.mode("overwrite").partitionBy("j").parquet(seedStatic)
          MultimodalQueries.bandStaticRebuild(spark, seedStatic, storeDir,
            s"$base/rebuilt", "j")
          val rb = spark.read.parquet(s"$base/rebuilt")
          val down = new java.util.ArrayList(takenDownIds)
            .toArray.map(_.asInstanceOf[Long]).toSeq
          rebuildOk = rb.filter(col("doc_id") === sentinelId).count() > 0 &&
            rb.filter(col("doc_id") === 0L).count() > 0 &&
            (down.isEmpty ||
              rb.filter(col("doc_id").isin(down: _*)).count() == 0L)
        }
      }
    } finally {
      stop.set(true)
      prober.join(120000)
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val finalSegs = graft.sources.SegmentStore.segments(fs, storeDir).size
    val wallSec = (System.nanoTime() - t0) / 1e9
    val errs = probeErrors.toArray.take(3).mkString("; ").replace("\"", "'")
    val ok = probeErrors.isEmpty && resurrections.get() == 0L &&
      sentinelMisses.get() == 0L && probes.get() > 0L && rebuildOk &&
      finalSegs <= compactEvery + 1
    println(s"""{"probe":"media-soak","batches":$nBatches,"batch_docs":$batchDocs,"compact_every":$compactEvery,"takedown_batches":$takedownBatches,"taken_down_ids":${takenDownIds.size},"concurrent_probes":${probes.get},"probe_errors":${probeErrors.size},"probe_error_sample":"$errs","resurrections":${resurrections.get},"sentinel_misses":${sentinelMisses.get},"max_segments_seen":${maxSegments.get},"final_segments":$finalSegs,"rebuild_race_ok":$rebuildOk,"wall_sec":${f"$wallSec%.1f"},"ok":$ok}""")
    ok
  }

  /** Long soak of the IN-STREAM media maintainer (--media-ops-soak
    * [--batches N --batch-docs M --compact-every C --takedown-every T
    * --max-marker-rows R]) — the round-17 verdict's "next #4": the
    * spec proves ONE rebuild boundary; this runs the PRODUCTION
    * [[graft.streaming.EventStreams.mediaOpsMaintain]] stream for 60+
    * ops micro-batches against a serving root with a LOW marker
    * trigger, so the marker-mass rebuild actuates 3+ times INSIDE the
    * stream while a concurrent prober continuously resolves the
    * pointer and re-derives liveness — real decode on every put (the
    * synthetic variant images), real markers, real generation
    * publishes + grace GC racing the reads. Invariants: a doc whose
    * takedown batch COMMITTED never serves again (resurrection = 0,
    * through any number of pointer swaps), a never-deleted sentinel
    * always serves (miss = 0), zero probe errors, root dir count O(1)
    * (grace GC holds), and the final epoch counts the in-stream
    * rebuilds. */
  private def mediaOpsSoakProbe(spark: SparkSession, srcDir: String,
                                flags: Map[String, String]): Boolean = {
    import graft.queries.MultimodalQueries
    import graft.search.AnnIndex.ServingRoot
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val nBatches = flags.get("batches").map(_.toInt).getOrElse(60)
    val batchDocs = flags.get("batch-docs").map(_.toInt).getOrElse(50)
    val compactEvery = flags.get("compact-every").map(_.toInt).getOrElse(2)
    val takedownEvery = flags.get("takedown-every").map(_.toInt).getOrElse(3)
    val maxMarkerRows = flags.get("max-marker-rows").map(_.toLong).getOrElse(50L)
    val victimsPerTakedown = 20
    val base = java.nio.file.Files
      .createTempDirectory("graft_media_ops_soak").toString
    val root = s"$base/r"
    val t0 = System.nanoTime()
    // seed generation 0 from the fixture's image band artifact (the
    // production init path; its docs are never deleted here)
    MultimodalQueries.mediaRootInit(spark,
      s"${MultimodalQueries.phashIndexDir(spark, srcDir)}/bands", root,
      MultimodalQueries.ImageBandFamily)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def epoch(): Long = ServingRoot.currentEpoch(fs, root).getOrElse(-1L)
    // soak ids live far outside the fixture range; the sentinel is
    // put in batch 0 and never deleted
    val idBase = 10000000L
    val sentinelId = idBase
    val takenDownIds =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val started = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probes = new java.util.concurrent.atomic.AtomicLong
    val resurrections = new java.util.concurrent.atomic.AtomicLong
    val sentinelMisses = new java.util.concurrent.atomic.AtomicLong
    val maxRootDirs = new java.util.concurrent.atomic.AtomicLong
    val probeErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val prober = new Thread(() => {
      while (!stop.get()) {
        try {
          if (started.get()) {
            // deletes KNOWN COMMITTED before resolving the pointer:
            // none of them may serve from the snapshot we resolve
            val mustBeGone = new java.util.ArrayList(takenDownIds)
              .toArray.map(_.asInstanceOf[Long]).toSeq
            maxRootDirs.getAndUpdate(m => math.max(m,
              fs.listStatus(new org.apache.hadoop.fs.Path(root)).length.toLong))
            val (idx, storeDir) = ServingRoot.resolve(spark, root)
            val cand = sentinelId +: mustBeGone
            val staticIds = spark.read.parquet(s"$idx/bands")
              .filter(col("j") === 0 && col("doc_id").isin(cand: _*))
              .select(col("doc_id")).distinct()
            val served: Set[Long] =
              if (graft.sources.SegmentStore.segments(fs, storeDir).isEmpty)
                staticIds.as[Long].collect().toSet
              else {
                val raw = graft.sources.SegmentStore.read(spark, storeDir)
                  .filter(col("j") === 0)
                val w = org.apache.spark.sql.expressions.Window
                  .partitionBy(col("doc_id"))
                  .orderBy(col(graft.sources.SegmentStore.BatchCol).desc)
                val lww = raw
                  .filter(col("doc_id").isin(cand: _*))
                  .withColumn("_rn", row_number().over(w))
                  .filter(col("_rn") === 1)
                val markers = lww.filter(col("_del")).select(col("doc_id"))
                val storeLive = lww.filter(!col("_del")).select(col("doc_id"))
                staticIds.join(markers, Seq("doc_id"), "left_anti")
                  .unionByName(storeLive).distinct()
                  .as[Long].collect().toSet
              }
            if (!served.contains(sentinelId)) sentinelMisses.incrementAndGet()
            mustBeGone.foreach { id =>
              if (served.contains(id)) resurrections.incrementAndGet()
            }
            probes.incrementAndGet()
          }
        } catch {
          case e: Throwable =>
            probeErrors.add(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }, "graft-media-ops-soak-prober")
    prober.start()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.mediaOpsMaintain(
      mem.toDF().toDF("doc_id", "op"), root, compactEvery,
      maxMarkerRows = maxMarkerRows)()
    var takedownBatches = 0
    try {
      for (b <- 0 until nBatches) {
        val lo = idBase + b.toLong * batchDocs
        val puts = (lo until lo + batchDocs).map(id => (id, "put"))
        val dels =
          if (b > 0 && b % takedownEvery == 0) {
            // take down a slice STRICTLY INSIDE the previous batch
            // (never the sentinel, never the current batch's own puts
            // — a same-batch put would win the del tie by contract and
            // the "deleted" doc would rightly keep serving)
            val priorLo = idBase + (b - 1).toLong * batchDocs
            val nVictims = math.min(victimsPerTakedown, batchDocs - 1)
            takedownBatches += 1
            (priorLo + 1 until priorLo + 1 + nVictims)
              .map(id => (id, "del"))
          } else Seq.empty
        mem.addData(puts ++ dels)
        q.processAllAvailable()
        // the batch (and any in-stream rebuild it triggered) is fully
        // committed: only NOW may the prober hold these deletes
        // against the store
        dels.foreach { case (id, _) => takenDownIds.add(id) }
        started.set(true)
      }
      q.processAllAvailable()
    } finally {
      try q.stop() finally {
        stop.set(true)
        prober.join(120000)
      }
    }
    val finalEpoch = epoch()
    val (_, finalStore) = ServingRoot.resolve(spark, root)
    val finalSegs = graft.sources.SegmentStore.segments(fs, finalStore).size
    val finalRootDirs =
      fs.listStatus(new org.apache.hadoop.fs.Path(root)).length
    val wallSec = (System.nanoTime() - t0) / 1e9
    val errs = probeErrors.toArray.take(3).mkString("; ").replace("\"", "'")
    val ok = probeErrors.isEmpty && resurrections.get() == 0L &&
      sentinelMisses.get() == 0L && probes.get() > 0L &&
      finalEpoch >= 3L && takedownBatches >= 3 &&
      maxRootDirs.get() <= 8L && finalRootDirs <= 8
    println(s"""{"probe":"media-ops-soak","batches":$nBatches,"batch_docs":$batchDocs,"compact_every":$compactEvery,"takedown_every":$takedownEvery,"max_marker_rows":$maxMarkerRows,"takedown_batches":$takedownBatches,"taken_down_ids":${takenDownIds.size},"in_stream_rebuilds":$finalEpoch,"concurrent_probes":${probes.get},"probe_errors":${probeErrors.size},"probe_error_sample":"$errs","resurrections":${resurrections.get},"sentinel_misses":${sentinelMisses.get},"max_root_dirs_seen":${maxRootDirs.get},"final_root_dirs":$finalRootDirs,"final_store_segments":$finalSegs,"wall_sec":${f"$wallSec%.1f"},"ok":$ok}""")
    ok
  }

  /** Image composed-key LOST-PAIR characterization (--lost-pairs-probe):
    * the round-15 receipt measured 0.97% of planted image pairs lost
    * by the composed (bits, mass) key. Before building any recovery
    * arm, MEASURE what was lost: for every planted true near-dup pair
    * (Hamming ≤ cut) with NO band agreeing on bits AND mass, classify
    * the nearest miss — is there a band with EQUAL MASS but flipped
    * bits (threshold-coupled flips; a mass-neighbor probe cannot
    * recover these), or EQUAL BITS with a small mass delta (an m±d
    * neighbor bucket would recover it)? The histogram decides whether
    * a second-chance probe is worth its 3× key volume. */
  private def lostPairsProbe(spark: SparkSession, outDir: String,
                             copies: Int): Boolean = {
    import graft.multimodal.Multimodal
    import graft.queries.MultimodalQueries
    val g = Multimodal.VariantGroupSize
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
      .select(col("doc_id"))
    val bands = Multimodal
      .imageAHashBands(Multimodal.ingestSynthVariantImages(docs))
      .select(Seq(col("doc_id")) ++ (0 until 4).map(j => col(s"band$j")) ++
        (0 until 4).map(j => col(s"qt$j")): _*)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val n = bands.count()
      // planted pairs: consecutive ids in one variant group — join the
      // group's members pairwise (tiny: g per group), verify Hamming
      val a = bands.select(Seq(col("doc_id").as("doc_a")) ++
        (0 until 4).map(j => col(s"band$j").as(s"a$j")) ++
        (0 until 4).map(j => col(s"qt$j").as(s"am$j")): _*)
        .withColumn("grp", (col("doc_a") / g).cast("long"))
      val b = bands.select(Seq(col("doc_id").as("doc_b")) ++
        (0 until 4).map(j => col(s"band$j").as(s"b$j")) ++
        (0 until 4).map(j => col(s"qt$j").as(s"bm$j")): _*)
        .withColumn("grp", (col("doc_b") / g).cast("long"))
      val ham = (0 until 4)
        .map(j => bit_count(col(s"a$j").bitwiseXOR(col(s"b$j"))).cast("long"))
        .reduce(_ + _)
      val anyComposed = (0 until 4)
        .map(j => col(s"a$j") === col(s"b$j") && col(s"am$j") === col(s"bm$j"))
        .reduce(_ || _)
      // per-band miss classes over the LOST pairs
      val bitsEqCols = (0 until 4).map(j => col(s"a$j") === col(s"b$j"))
      val massDelta = (0 until 4).map(j => abs(col(s"am$j") - col(s"bm$j")))
      val minMassDeltaBitsEq = (0 until 4)
        .map(j => when(bitsEqCols(j), massDelta(j)).otherwise(lit(Long.MaxValue)))
        .reduce((x, y) => least(x, y))
      val massEqBitsFlip = (0 until 4)
        .map(j => !bitsEqCols(j) && col(s"am$j") === col(s"bm$j"))
        .reduce(_ || _)
      val pairs = a.join(b, Seq("grp"))
        .filter(col("doc_a") < col("doc_b"))
        .filter(ham <= lit(MultimodalQueries.PhashMaxHamming))
      val planted = pairs.count()
      val lost = pairs.filter(!anyComposed)
        .select(minMassDeltaBitsEq.as("min_dm_bits_eq"),
          massEqBitsFlip.as("mass_eq_bits_flip"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nLost = lost.count()
        def recoverable(d: Long) =
          lost.filter(col("min_dm_bits_eq") <= d).count()
        val r1 = recoverable(1L); val r2 = recoverable(2L)
        val r4 = recoverable(4L); val r16 = recoverable(16L)
        val flips = lost.filter(col("mass_eq_bits_flip")).count()
        val noBitsEq = lost.filter(col("min_dm_bits_eq") === Long.MaxValue).count()
        // the ALTERNATIVE recovery key: mass-only (j, m) candidacy
        // (every lost pair above has a mass-equal band) — measure its
        // candidate volume before anyone builds it
        val massVol = MultimodalQueries.explodeBandKeys(bands)
          .groupBy(col("j"), col("m")).agg(count(lit(1)).as("pop"))
          .agg(sum(expr("pop * (pop - 1) DIV 2")).as("cand"),
            max(col("pop")).as("max_pop")).head()
        val (massCand, massMaxPop) = (massVol.getLong(0), massVol.getLong(1))
        println(s"""{"probe":"lost-pairs","copies":$copies,"n":$n,"planted_pairs":$planted,"lost_pairs":$nLost,"lost_frac":${if (planted == 0) 0.0 else nLost.toDouble / planted},"recoverable_m_pm1":$r1,"recoverable_m_pm2":$r2,"recoverable_m_pm4":$r4,"recoverable_m_pm16":$r16,"mass_eq_bits_flip":$flips,"no_band_bits_equal":$noBitsEq,"mass_only_cand":$massCand,"mass_only_cand_per_n":${massCand.toDouble / n},"mass_only_max_pop":$massMaxPop}""")
        true
      } finally lost.unpersist(blocking = false)
    } finally bands.unpersist(blocking = false)
  }

  /** dHash-bit prototype measurement (--dhash-probe): the round-16
    * verdict's one open avenue on the image composed key's ~2% planted
    * -pair loss — the loss is GLOBAL-THRESHOLD coupling
    * (`lost_pairs_r16.json`: all lost pairs flip band bits at EQUAL
    * mass under the shifted gray mean), so a threshold-FREE bit family
    * ([[graft.multimodal.Multimodal.imageDHashBands]] — neighbor
    * comparisons, the image analogue of the audio delta-sign bits that
    * measured 100% retention) should sidestep it entirely. Measured,
    * not assumed: over the clone corpus's planted variant families,
    * for every true near-dup pair (aHash Hamming ≤ cut — the VERIFY
    * metric is unchanged, only the candidate key is in question),
    * count pairs lost by the current composed (aHash bits, mass) key
    * vs the composed (dHash bits, mass) key, and compare both keys'
    * candidate volumes (the flat-per-n property that makes the bucket
    * join linear). Adopt/reject lands in SCALING.md. */
  private def dhashProbe(spark: SparkSession, outDir: String,
                         copies: Int): Boolean = {
    import graft.multimodal.Multimodal
    import graft.queries.MultimodalQueries
    val g = Multimodal.VariantGroupSize
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
      .select(col("doc_id"))
    val aB = Multimodal
      .imageAHashBands(Multimodal.ingestSynthVariantImages(docs))
      .select(Seq(col("doc_id")) ++
        (0 until 4).map(j => col(s"band$j").as(s"ah$j")) ++
        (0 until 4).map(j => col(s"qt$j").as(s"m$j")): _*)
    val dB = Multimodal
      .imageDHashBands(Multimodal.ingestSynthVariantImages(docs))
      .select(Seq(col("doc_id")) ++
        (0 until 4).map(j => col(s"band$j").as(s"dh$j")): _*)
    val bands = aB.join(dB, Seq("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val n = bands.count()
      def side(p: String, idCol: String) = bands.select(
        Seq(col("doc_id").as(idCol)) ++
          (0 until 4).map(j => col(s"ah$j").as(s"${p}a$j")) ++
          (0 until 4).map(j => col(s"dh$j").as(s"${p}d$j")) ++
          (0 until 4).map(j => col(s"m$j").as(s"${p}m$j")): _*)
        .withColumn("grp", (col(idCol) / g).cast("long"))
      val a = side("x", "doc_a")
      val b = side("y", "doc_b")
      val ham = (0 until 4)
        .map(j => bit_count(col(s"xa$j").bitwiseXOR(col(s"ya$j"))).cast("long"))
        .reduce(_ + _)
      val composedA = (0 until 4)
        .map(j => col(s"xa$j") === col(s"ya$j") && col(s"xm$j") === col(s"ym$j"))
        .reduce(_ || _)
      val composedD = (0 until 4)
        .map(j => col(s"xd$j") === col(s"yd$j") && col(s"xm$j") === col(s"ym$j"))
        .reduce(_ || _)
      val pairs = a.join(b, Seq("grp"))
        .filter(col("doc_a") < col("doc_b"))
        .filter(ham <= lit(MultimodalQueries.PhashMaxHamming))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val planted = pairs.count()
        val lostA = pairs.filter(!composedA).count()
        val lostD = pairs.filter(!composedD).count()
        val lostBoth = pairs.filter(!composedA && !composedD).count()
        // candidate volume per key family: Σ pop·(pop−1)/2 over the
        // composed (j, bits, mass) buckets — the linearity evidence
        def keyVol(bit: Int => org.apache.spark.sql.Column): (Long, Long) = {
          val keys = (0 until 4).map(j => bands.select(
              lit(j).as("j"), bit(j).as("v"), col(s"m$j").as("m")))
            .reduce(_.unionByName(_))
          val r = keys.groupBy(col("j"), col("v"), col("m"))
            .agg(count(lit(1)).as("pop"))
            .agg(sum(expr("pop * (pop - 1) DIV 2")).as("cand"),
              max(col("pop")).as("max_pop")).head()
          (r.getLong(0), r.getLong(1))
        }
        val (aCand, aMax) = keyVol(j => col(s"ah$j"))
        val (dCand, dMax) = keyVol(j => col(s"dh$j"))
        val retA = if (planted == 0) 1.0 else 1.0 - lostA.toDouble / planted
        val retD = if (planted == 0) 1.0 else 1.0 - lostD.toDouble / planted
        println(s"""{"probe":"dhash","copies":$copies,"n":$n,"planted_pairs":$planted,"lost_ahash_key":$lostA,"lost_dhash_key":$lostD,"lost_both":$lostBoth,"retention_ahash":${f"$retA%.4f"},"retention_dhash":${f"$retD%.4f"},"ahash_cand":$aCand,"ahash_cand_per_n":${f"${aCand.toDouble / n}%.2f"},"ahash_max_pop":$aMax,"dhash_cand":$dCand,"dhash_cand_per_n":${f"${dCand.toDouble / n}%.2f"},"dhash_max_pop":$dMax}""")
        true
      } finally pairs.unpersist(blocking = false)
    } finally bands.unpersist(blocking = false)
  }

  /** Video-anchor dHash measurement (--vdhash-probe [--clips N]) — the
    * video face of [[dhashProbe]]. Round 17 ran it BEFORE adoption
    * (planted pairs under the then-production aHash verify: aHash
    * anchors lost 15/6 000 vs dHash's ~0 — `bench/vdhash_probe_r17
    * .json`); round 18 ADOPTED dHash, so the probe now measures under
    * the PRODUCTION (dHash) verify: planted pairs = equal frame
    * counts AND aligned total dHash Hamming ≤ cut, then count pairs
    * whose frame-0 composed anchors (`band_j + qt_j·2^16`, masses
    * shared between families) all disagree under the production dHash
    * keys vs under the aHash alternative
    * ([[graft.multimodal.Multimodal.videoFrameAHashBands]]), plus
    * both key families' candidate volumes — the post-adoption
    * retention receipt the round-17 verdict asked for. */
  private def vdhashProbe(spark: SparkSession, outDir: String,
                          flags: Map[String, String]): Boolean = {
    import graft.multimodal.Multimodal
    import graft.queries.MultimodalQueries
    val nClips = flags.get("clips").map(_.toLong).getOrElse(20000L)
    val g = Multimodal.VariantGroupSize
    // GROUP-COMPLETE deterministic sample of ~nClips docs across the
    // whole clone id space (clone copies ride large id offsets, so a
    // prefix filter would only see the base copy): sample on the
    // VARIANT GROUP key so planted families stay intact
    val allDocs = spark.read.parquet(s"$outDir/documents.parquet")
      .select(col("doc_id"))
    val total = allDocs.count()
    val keepPerM = math.max(1L, 1000000L * nClips / math.max(total, 1L))
    val docs = allDocs.filter(
      pmod((col("doc_id") / g).cast("long") * lit(2654435761L),
        lit(1000000L)) < lit(keepPerM))
    val blobs = Multimodal.ingestSynthVariantVideo(docs)
    // the PRODUCTION family (dHash since round 18) carries the verify
    // side; aHash is the measured alternative whose frame-0 anchors
    // ride the shared quarter masses
    val dBands = Multimodal.videoFrameDHashBands(blobs)
      .select(Seq(col("doc_id"), col("frame_idx"), col("n_frames")) ++
        (0 until 4).map(j => col(s"band$j")) ++
        (0 until 4).map(j => col(s"qt$j")): _*)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val aF0 = Multimodal.videoFrameAHashBands(blobs)
      .filter(col("frame_idx") === 0)
      .select(Seq(col("doc_id")) ++
        (0 until 4).map(j => col(s"band$j").as(s"aband$j")): _*)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val n = aF0.count()
      // planted pairs under the PRODUCTION verify: same variant group,
      // equal frame counts, aligned total Hamming ≤ cut
      def frameSide(p: String, idCol: String) = dBands.select(
        Seq((col("doc_id") / g).cast("long").as("grp"),
          col("doc_id").as(idCol), col("frame_idx"),
          col("n_frames").as(s"${p}nf")) ++
          (0 until 4).map(j => col(s"band$j").as(s"${p}b$j")): _*)
      val fa = frameSide("x", "doc_a")
      val fb = frameSide("y", "doc_b")
      val frameHam = (0 until 4)
        .map(j => bit_count(col(s"xb$j").bitwiseXOR(col(s"yb$j"))).cast("long"))
        .reduce(_ + _)
      val pairs = fa.join(fb, Seq("grp", "frame_idx"))
        .filter(col("doc_a") < col("doc_b") && col("xnf") === col("ynf"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(frameHam).as("tham"))
        .filter(col("tham") <= lit(MultimodalQueries.VphashMaxHamming))
        .select(col("doc_a"), col("doc_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val planted = pairs.count()
        // frame-0 composed anchor keys per doc, both bit families
        // (the masses are shared — both families ride the same qt
        // columns, so only the 16 band bits differ between keys)
        val f0 = dBands.filter(col("frame_idx") === 0)
          .join(aF0, Seq("doc_id"))
        def keyed(p: String, idCol: String) = f0.select(
          Seq(col("doc_id").as(idCol), col("n_frames").as(s"${p}nf")) ++
            (0 until 4).map(j =>
              (col(s"aband$j") + col(s"qt$j") * lit(1L << 16)).as(s"${p}a$j")) ++
            (0 until 4).map(j =>
              (col(s"band$j") + col(s"qt$j") * lit(1L << 16)).as(s"${p}d$j")): _*)
        val withKeys = pairs
          .join(keyed("x", "doc_a"), Seq("doc_a"))
          .join(keyed("y", "doc_b"), Seq("doc_b"))
        val anyA = (0 until 4).map(j => col(s"xa$j") === col(s"ya$j")).reduce(_ || _)
        val anyD = (0 until 4).map(j => col(s"xd$j") === col(s"yd$j")).reduce(_ || _)
        val lostA = withKeys.filter(!anyA).count()
        val lostD = withKeys.filter(!anyD).count()
        val lostBoth = withKeys.filter(!anyA && !anyD).count()
        // anchor-bucket volume per family: (j, composed key, n_frames)
        def keyVol(pref: String): (Long, Long) = {
          val cols = if (pref == "a") (0 until 4).map(j =>
              col(s"aband$j") + col(s"qt$j") * lit(1L << 16))
            else (0 until 4).map(j =>
              col(s"band$j") + col(s"qt$j") * lit(1L << 16))
          val keys = (0 until 4).map(j => f0.select(
              lit(j).as("j"), cols(j).as("v"), col("n_frames")))
            .reduce(_.unionByName(_))
          val r = keys.groupBy(col("j"), col("v"), col("n_frames"))
            .agg(count(lit(1)).as("pop"))
            .agg(sum(expr("pop * (pop - 1) DIV 2")).as("cand"),
              max(col("pop")).as("max_pop")).head()
          (r.getLong(0), r.getLong(1))
        }
        val (aCand, aMax) = keyVol("a")
        val (dCand, dMax) = keyVol("d")
        val retA = if (planted == 0) 1.0 else 1.0 - lostA.toDouble / planted
        val retD = if (planted == 0) 1.0 else 1.0 - lostD.toDouble / planted
        println(s"""{"probe":"vdhash","clips":$n,"planted_pairs":$planted,"anchor_lost_ahash":$lostA,"anchor_lost_dhash":$lostD,"anchor_lost_both":$lostBoth,"retention_ahash":${f"$retA%.4f"},"retention_dhash":${f"$retD%.4f"},"ahash_cand":$aCand,"ahash_cand_per_n":${f"${aCand.toDouble / n}%.2f"},"ahash_max_pop":$aMax,"dhash_cand":$dCand,"dhash_cand_per_n":${f"${dCand.toDouble / n}%.2f"},"dhash_max_pop":$dMax}""")
        true
      } finally pairs.unpersist(blocking = false)
    } finally { dBands.unpersist(blocking = false); aF0.unpersist(blocking = false) }
  }

  private def decadeUpProbe(spark: SparkSession, outDir: String, copies: Int,
                            flags: Map[String, String]): Boolean = {
    val probeQueries = flags.get("queries")
      .map(_.split(",").toSeq).getOrElse(DefaultQueries)
    val nDocs = spark.read.parquet(s"$outDir/documents.parquet").count()
    def pass(): Seq[(String, (Double, Long))] = probeQueries.map { q =>
      try {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, outDir)
        df.write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        q -> ((t, df.count()))
      } catch { case e: Throwable =>
        println(s"FAIL $q: ${e.getMessage}"); q -> ((-1.0, -1L))
      }
    }
    val cold = pass().toMap
    val warm = pass()
    val qs = warm.map { case (q, (t, n)) =>
      s"""\"$q\":{\"cold_sec\":${cold(q)._1},\"warm_sec\":$t,\"rows\":$n}"""
    }.mkString("{", ",", "}")
    println(s"""{"probe":"decade-up","n_docs":$nDocs,"copies":$copies,"action":"noop-sink","queries":$qs}""")
    true
  }

  /** Multi-file layout probe (--multifile N): every fixture table
    * rewritten into N files, the q73/q75 persisted artifacts rewritten
    * into multi-file partition directories, then each probe query runs
    * against the single-file AND multi-file layouts. A layout must
    * never change results (canonical-hash equality, asserted — exit 1
    * on mismatch) and must not defeat partition pruning (the q73 DPP
    * band filter and q75/q87 cell filters are re-checked on the
    * multi-file plans). */
  private def multiFileProbe(spark: SparkSession, srcDir: String,
                             outBase: String, flags: Map[String, String]): Boolean = {
    val nFiles = flags("multifile").toInt
    require(nFiles > 1, "--multifile wants N > 1 files")
    val mfDir = (if (outBase == "/tmp/sfbig") "/tmp/sfmulti" else outBase) + s"_f$nFiles"
    val tables = new java.io.File(srcDir).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    tables.foreach { t =>
      if (!new java.io.File(s"$mfDir/$t").exists())
        spark.read.parquet(s"$srcDir/$t").repartition(nFiles)
          .write.mode(SaveMode.Overwrite).parquet(s"$mfDir/$t")
    }
    val fileCounts = tables.map(t =>
      t -> countParquetFiles(new java.io.File(s"$mfDir/$t")))

    // build the persisted artifacts against the multi-file fixture,
    // then rewrite THEM so every partition directory holds several
    // files (4 per partition is enough to break the monoculture
    // without drowning small cells in tiny files)
    val ivfDir = queries.AnnQueries.ivfIndexDir(spark, mfDir)
    val bandDir = queries.DedupQueries.bandIndexDir(spark, mfDir)
    val perPart = math.min(nFiles, 4)
    rewriteMultiFile(spark, s"$ivfDir/corpus", perPart, Seq("cell"))
    rewriteMultiFile(spark, s"$bandDir/bands", perPart, Seq("band"))
    rewriteMultiFile(spark, s"$bandDir/shingles", nFiles)

    val probeQueries = flags.get("queries")
      .map(_.split(",").toSeq).getOrElse(MultiFileQueries)
    def timedRun(q: String, dir: String): (Double, DataFrame) = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, df)
    }
    val results = probeQueries.map { q =>
      val (st, sdf) = timedRun(q, srcDir)
      val (mt, mdf) = timedRun(q, mfDir)
      val (sn, sh) = canonicalHash(sdf)
      val (mn, mh) = canonicalHash(mdf)
      val ok = sn == mn && sh == mh
      if (!ok) println(s"MISMATCH $q: single=($sn,$sh) multi=($mn,$mh)")
      (q, st, mt, sn, ok)
    }

    // pruning evidence on the multi-file artifact plans (the PlanSpec
    // q73/q75 assertions, re-run against the rewritten layout)
    def planOf(q: String): String =
      SparkEntry.queries(q)(spark, mfDir).queryExecution.executedPlan.toString
    val bandScan = planOf("q73_band_index_probe").linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("graft_band_index"))
      .find(_.contains("band#")).getOrElse("")
    val q73Prune = bandScan.contains("PartitionFilters: [") &&
      bandScan.contains("dynamicpruning")
    def cellPrune(q: String): Boolean = {
      val scan = planOf(q).linesIterator
        .find(l => l.contains("Scan parquet") && l.contains("graft_ivf_index"))
        .getOrElse("")
      scan.contains("PartitionFilters: [") && scan.contains("cell#")
    }
    val q75Prune = cellPrune("q75_ivf_index_probe")
    val q87Prune = cellPrune("q87_ivf_multiprobe")

    val allMatch = results.forall(_._5)
    val qs = results.map { case (q, st, mt, n, ok) =>
      s"""\"$q\":{\"single_sec\":$st,\"multi_sec\":$mt,\"rows\":$n,\"match\":$ok}"""
    }.mkString("{", ",", "}")
    val fc = fileCounts.map { case (t, n) => s"""\"$t\":$n""" }.mkString("{", ",", "}")
    println(s"""{"probe":"multifile","src":"$srcDir","n_files":$nFiles,"table_files":$fc,"queries":$qs,"pruning":{"q73_band_dpp":$q73Prune,"q75_cell":$q75Prune,"q87_cell":$q87Prune},"all_match":$allMatch}""")
    allMatch && q73Prune && q75Prune && q87Prune
  }
}
