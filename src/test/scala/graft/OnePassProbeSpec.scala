package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.queries.AnnQueries
import graft.search.AnnIndex

/** The one-pass IVF-PQ probes ([[AnnIndex.probeIvfPq]] and its
  * segment, residual and batched faces) answer byte-identically to the
  * two-scan design they replaced: a codes-only ADC shortlist scan whose
  * ids broadcast back onto a second scan of the same cells for the
  * exact rescore. That design is kept here, test-local, as the
  * reference. Both rank the same shortlist set by the same score
  * expression, so equality holds by construction; these cases pin it on
  * the sf0.001 fixture across every probe input the engine passes —
  * metadata predicate, payload columns, tombstone exclusion (a scan
  * filter and an anti-join), segment unions, query batches — and over
  * the artifact relation repartitioned to 1 and to 7 partitions. */
class OnePassProbeSpec extends SparkSpec {

  private def exact(q: Array[Float]): Column =
    round(neo4jScore(col("embedding"), typedLit(q.toSeq)), 6)

  /** The two-scan single-query probe: codes-only ADC shortlist, then a
    * broadcast semi-join of its ids onto a second scan for the rescore. */
  private def twoScan(scans: Seq[DataFrame], dir: String, q: Array[Float], k: Int,
                      nProbe: Int, shortlist: Int, adc: Column,
                      predicate: Column = lit(true), payload: Seq[String] = Nil,
                      exclude: Option[DataFrame] = None): DataFrame = {
    val probed = AnnIndex.probedCells(spark, dir, q, nProbe)
    val pruned = scans.map(_.filter(col("cell").isin(probed: _*)).filter(predicate))
    def live(df: DataFrame): DataFrame =
      exclude.fold(df)(df.join(_, Seq("vec_id"), "left_anti"))
    val short = pruned.map(df => live(df).select(col("vec_id"), adc.as("adc_d")))
      .reduce(_.unionByName(_))
      .orderBy(col("adc_d").asc, col("vec_id").asc)
      .limit(shortlist)
      .select(col("vec_id"))
    pruned.map(_.select((col("vec_id") +: payload.map(col)) :+ col("embedding"): _*))
      .reduce(_.unionByName(_))
      .join(broadcast(short), Seq("vec_id"))
      .withColumn("score", exact(q))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select((col("vec_id") +: payload.map(col)) :+ col("score"): _*)
  }

  /** The two-scan batched probe: per-query codes-only ADC shortlist
    * window, then a broadcast join back on (cell, vec_id) for the
    * rescore, carrying each query's vector through the shuffle. */
  private def twoScanMulti(corpus: DataFrame, dir: String, queries: DataFrame,
                           k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    import spark.implicits._
    val centers = AnnIndex.loadQuantizer(spark, dir).clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq.toDF("cell", "center")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d").asc, col("cell").asc)
    val qcells = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("qn", l2Normalize(col("qe")))
      .crossJoin(broadcast(centers))
      .withColumn("d", graft.expressions.VectorExpressions.sqDist(col("qn"), col("center")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= nProbe)
      .select(col("cell"), col("query_id"), col("qe"))
    val cb = AnnIndex.loadCodebooks(spark, dir)
    val subs = cb.keys.toSeq.sorted
    val subDim = cb(subs.head).head.size
    val adc = subs.map { sub =>
      graft.expressions.VectorExpressions.sqDist(
        slice(col("qe"), sub * subDim + 1, subDim),
        element_at(typedLit(cb(sub)), col(s"c$sub") + 1))
    }.reduce(_ + _)
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc_d").asc, col("vec_id").asc)
    val short = corpus
      .join(broadcast(qcells), Seq("cell"))
      .select(col("cell"), col("vec_id"), col("query_id"), col("qe"), adc.as("adc_d"))
      .withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= shortlist)
      .select(col("cell"), col("vec_id"), col("query_id"), col("qe"))
    corpus
      .select(col("cell"), col("vec_id"), col("embedding"))
      .join(broadcast(short), Seq("cell", "vec_id"))
      .select(col("query_id"), col("vec_id").as("id"),
        round(neo4jScore(col("embedding"), col("qe")), 6).as("score"))
      .groupBy(col("query_id"))
      .agg(graft.expressions.TopKAggExpr.topK(col("id"), col("score"), k).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("query_id"), col("hit.id").as("doc_id"), col("hit.score").as("score"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  private lazy val pqDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
  private lazy val corpus = spark.read.parquet(s"$pqDir/corpus")

  /** Query vectors: fixture rows (a self-hit ties at score 1) and an
    * embedded prompt. */
  private lazy val queries: Seq[Array[Float]] = {
    val rows = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id").isin(3L, 377L))
      .orderBy(col("vec_id")).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray).toSeq
    rows :+ new graft.search.HashingEmbedder(64).embed(AnnQueries.ServedPrompt)
  }

  /** Shortlists below, near and above the probed row count. */
  private val shortlists = Seq(7, 40, AnnQueries.ServedShortlist)

  /** The artifact relation as read, and repartitioned to 1 and to 7
    * partitions: the answer must not depend on the partition count. */
  private def layouts(df: DataFrame): Seq[(String, DataFrame)] =
    Seq("as read" -> df, "1 partition" -> df.repartition(1), "7 partitions" -> df.repartition(7))

  private def same(what: String, got: DataFrame, want: DataFrame): Unit = {
    val g = got.collect().toSeq
    val w = want.collect().toSeq
    assert(g.nonEmpty, s"$what: empty answer")
    assert(g === w, s"$what: one-pass != two-scan")
  }

  private def sameProbe(what: String, predicate: Column = lit(true),
                        payload: Seq[String] = Nil,
                        exclude: Option[DataFrame] = None,
                        refExclude: Option[DataFrame] = None,
                        refPredicate: Option[Column] = None): Unit =
    for ((layout, art) <- layouts(corpus); (q, qi) <- queries.zipWithIndex; sl <- shortlists) {
      val got = AnnIndex.probeIvfPq(spark, pqDir, q, 10, AnnQueries.IvfNProbe, sl,
        predicate = predicate, payload = payload, exclude = exclude, artifact = Some(art))
      val want = twoScan(Seq(art), pqDir, q, 10, AnnQueries.IvfNProbe, sl,
        AnnIndex.adcDistanceCol(spark, pqDir, q), refPredicate.getOrElse(predicate),
        payload, refExclude.orElse(exclude))
      same(s"$what, $layout, query $qi, shortlist $sl", got, want)
    }

  test("one-pass probe == two-scan probe: plain, label-filtered, with payload") {
    sameProbe("plain")
    sameProbe("label filter", predicate = col("label") === AnnQueries.FilterLabel)
    sameProbe("payload", payload = Seq("label", "cell"))
  }

  test("one-pass probe == two-scan probe with tombstones excluded by InSet filter and by anti-join") {
    import spark.implicits._
    // every 9th id: more than 10, so the filter plans as an InSet
    val dead = corpus.select(col("vec_id")).as[Long].collect().filter(_ % 9 == 0).toSeq
    assert(dead.size > 10)
    val deadFrame = dead.toDF("vec_id")
    val inSet = !col("vec_id").isin(dead: _*)
    val planned = AnnIndex.probeIvfPq(spark, pqDir, queries.head, 10,
      AnnQueries.IvfNProbe, 40, predicate = inSet).queryExecution.executedPlan.toString
    assert(planned.contains("INSET") && !planned.contains("Join"),
      s"held tombstones must filter in the scan's stage:\n$planned")
    // both exclusions against the reference's anti-join
    sameProbe("InSet tombstones", predicate = inSet,
      refPredicate = Some(lit(true)), refExclude = Some(broadcast(deadFrame)))
    sameProbe("forced anti-join tombstones", exclude = Some(deadFrame))
  }

  test("one-pass residual probe == two-scan residual probe") {
    val resDir = AnnQueries.ivfPqResIndexDir(spark, sf0001)
    for (q <- queries; sl <- shortlists)
      same(s"residual, shortlist $sl",
        AnnIndex.probeIvfPqResidual(spark, resDir, q, 10, AnnQueries.IvfNProbe, sl),
        twoScan(Seq(spark.read.parquet(s"$resDir/corpus")), resDir, q, 10,
          AnnQueries.IvfNProbe, sl, AnnIndex.adcResidualDistanceCol(spark, resDir, q)))
  }

  test("one-pass segment-union probe == two-scan segment-union probe") {
    val mainDir = AnnQueries.ivfPqMainIndexDir(spark, sf0001)
    val main = spark.read.parquet(s"$mainDir/corpus").withColumn("from_delta", lit(0L))
    val delta = spark.read.parquet(AnnQueries.deltaSegmentDir(spark, sf0001))
      .withColumn("from_delta", lit(1L))
    for ((layout, m) <- layouts(main); q <- queries; sl <- shortlists) {
      val segs = Seq(m, delta.repartition(3))
      same(s"segments, $layout, shortlist $sl",
        AnnIndex.probeIvfPqSegments(spark, mainDir, segs, q, 10,
          AnnQueries.IvfNProbe, sl, payload = Seq("from_delta")),
        twoScan(segs, mainDir, q, 10, AnnQueries.IvfNProbe, sl,
          AnnIndex.adcDistanceCol(spark, mainDir, q), payload = Seq("from_delta")))
    }
  }

  test("one-pass batched probe == two-scan batched probe over every layout") {
    import spark.implicits._
    val qs = queries.zipWithIndex.map { case (q, i) => (i.toLong, q.toSeq) }
      .toDF("vec_id", "embedding")
    val cols = Seq("cell", "vec_id", "embedding", "c0", "c1", "c2", "c3").map(col)
    for ((layout, art) <- layouts(corpus); sl <- shortlists) {
      val sorted = Seq(col("query_id"), col("rank"))
      same(s"batch, $layout, shortlist $sl",
        AnnIndex.probeIvfPqSegmentsMulti(spark, pqDir, Seq(art), qs, 10,
          AnnQueries.IvfNProbe, sl).orderBy(sorted: _*),
        twoScanMulti(art.select(cols: _*), pqDir, qs, 10, AnnQueries.IvfNProbe, sl)
          .orderBy(sorted: _*))
    }
    same("batch, artifact dir",
      AnnIndex.probeIvfPqMulti(spark, pqDir, qs, 10, AnnQueries.IvfNProbe, 40)
        .orderBy(col("query_id"), col("rank")),
      twoScanMulti(corpus, pqDir, qs, 10, AnnQueries.IvfNProbe, 40)
        .orderBy(col("query_id"), col("rank")))
  }
}
