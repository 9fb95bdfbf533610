package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.VectorExpressions
import graft.functions.VectorFunctions
import graft.operators.SemDedup
import graft.queries.AnnQueries
import graft.search.{AnnIndex, HashingEmbedder}

/** The index-build and encode path runs no interpreted vector math:
  * [[VectorFunctions.l2Normalize]] is one [[graft.expressions.ArrayL2Normalize]]
  * and [[SemDedup.assignCell]] one [[graft.expressions.NearestCentroid]].
  * Both are bit-identical to the formulations they replaced — the
  * `when`/`transform`/`aggregate` normalisation and the `array_min`
  * over inlined `struct(round(sqDist, 6), cell)` argmin — which are
  * kept here, test-local, as the references; the artifact `saveIvfPq`
  * writes equals the one those references give; the build plans carry
  * no higher-order function or codegen fallback; and an ingest batch
  * compiles no class a previous batch did not. */
class IndexBuildSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The normalisation as higher-order built-ins: the norm re-folded
    * inside `transform`'s lambda. */
  private def l2NormalizeRef(a: Column): Column = {
    val n = VectorFunctions.l2Norm(a)
    when(n =!= 0.0, transform(a, x => x.cast("double") / n))
      .otherwise(transform(a, x => x.cast("double")))
  }

  /** The nearest cell as `array_min` over one inlined
    * `struct(coalesce(round(sqDist, 6), +∞), cell)` per centroid. */
  private def assignCellRef(emb: Column, centroids: Seq[Seq[Double]]): Column =
    array_min(array(centroids.zipWithIndex.map { case (c, i) =>
      struct(
        coalesce(round(VectorExpressions.sqDist(emb, typedLit(c)), 6),
          lit(Double.PositiveInfinity)).as("d"),
        lit(i).as("cell"))
    }: _*)).getField("cell")

  /** `f` under both expression evaluation modes: generated code, and
    * the interpreted `eval` path (no whole-stage codegen, interpreted
    * projections). */
  private def inBothModes(f: String => Unit): Unit =
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      val settings = Seq("spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wholeStage)
      val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      try f(mode) finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }

  /** `rows` round-tripped through parquet, so projections over it are
    * evaluated by a real plan rather than folded into a local relation
    * at optimisation time. */
  private def onDisk(schema: StructType, rows: Seq[Row]): DataFrame = {
    val dir = tmp("graft_indexbuild_rows") + "/t"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Raw bits of a nullable double array (null elements as None). */
  private def bits(r: Row, i: Int): Option[Seq[Option[Long]]] =
    if (r.isNullAt(i)) None
    else Some(r.getSeq[Any](i).map {
      case null => None
      case d: Double => Some(java.lang.Double.doubleToRawLongBits(d))
    })

  private def assertNormalizeMatches(df: DataFrame, what: String): Unit = {
    val out = df.select(VectorFunctions.l2Normalize(col("a")).as("fast"),
      l2NormalizeRef(col("a")).as("ref"))
    assert(out.schema("fast").dataType === out.schema("ref").dataType, s"$what: result type")
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(bits(r, 0) === bits(r, 1), s"$what: $r"))
  }

  private lazy val embs = spark.read.parquet(s"$sf0001/embeddings.parquet").cache()

  test("l2Normalize is bit-identical to the transform/aggregate form on fixture embeddings") {
    inBothModes { mode =>
      assertNormalizeMatches(embs.select($"embedding".as("a")), s"$mode float")
      assertNormalizeMatches(embs.select($"embedding".cast("array<double>").as("a")),
        s"$mode double")
    }
  }

  test("l2Normalize is bit-identical on zero, null-element, NaN, infinite, empty and null arrays") {
    val edges: Seq[Seq[Any]] = Seq(
      Seq(3.0, 4.0), Seq(0.0, 0.0, 0.0), Seq(-0.0, 0.0), Seq(1.0, null, 2.0),
      Seq(null), Seq(Double.NaN, 1.0), Seq(Double.PositiveInfinity, 1.0),
      Seq(1e-45, 1e-45), Seq(3.4e38, 3.4e38), Seq(), null)
    val doubleOnly: Seq[Seq[Any]] = Seq(Seq(1e200, 1e200), Seq(Double.MaxValue, 1.0), Seq(4.9e-324))
    def rows(xs: Seq[Seq[Any]], conv: Any => Any): Seq[Row] =
      xs.map(a => Row(if (a == null) null else a.map(x => if (x == null) null else conv(x))))
    val floats = onDisk(StructType(Seq(StructField("a", ArrayType(FloatType, true)))),
      rows(edges, x => x.asInstanceOf[Double].toFloat))
    val doubles = onDisk(StructType(Seq(StructField("a", ArrayType(DoubleType, true)))),
      rows(edges ++ doubleOnly, identity))
    inBothModes { mode =>
      assertNormalizeMatches(floats, s"$mode float edges")
      assertNormalizeMatches(doubles, s"$mode double edges")
    }
  }

  /** `n` centroids of `dim` components, 6-dp rounded like a fit's. */
  private def table(rnd: scala.util.Random, n: Int, dim: Int, scale: Double): Seq[Seq[Double]] =
    Seq.fill(n)(Seq.fill(dim)(math.rint(rnd.nextGaussian() * scale * 1e6) / 1e6))

  private def assertCellsMatch(df: DataFrame, cents: Seq[Seq[Double]], what: String): Unit = {
    val rows = df.select(SemDedup.assignCell(col("a"), cents).as("fast"),
      assignCellRef(col("a"), cents).as("ref")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1), s"$what: $r"))
  }

  test("assignCell is bit-identical to the array_min-over-structs form on random tables, k = 1, 16 and 32") {
    val rnd = new scala.util.Random(17)
    val slices = embs.select(slice($"embedding", 17, 16).as("a"))
    val ks = Seq(1, 16, SemDedup.LiteralPathMaxK)
    assert(ks.last === 32)
    inBothModes { mode =>
      for (k <- ks) {
        val cents = table(rnd, k, 16, 0.15)
        // a repeated centroid ties every distance exactly: the lower
        // cell must win
        val tied = if (k > 2) cents.updated(k - 1, cents(1)) else cents
        assertCellsMatch(slices, tied, s"$mode float k=$k")
        assertCellsMatch(slices.select($"a".cast("array<double>").as("a")), tied,
          s"$mode double k=$k")
      }
    }
  }

  test("assignCell is bit-identical on rounding ties, NaN, infinities and null or short slices") {
    // raw distances 0.2500004 and 0.2500001 both round to 0.25: the
    // raw argmin is cell 1, the rounded rule's is cell 0
    val c0 = Seq(math.sqrt(0.2500004), 0.0)
    val c1 = Seq(math.sqrt(0.2500001), 0.0)
    val cNaN = Seq(Double.NaN, 0.0)
    val cFar = Seq(5.0, 5.0)
    val tables = Seq(Seq(c0, c1), Seq(c1, c0), Seq(cNaN, cFar), Seq(cFar, cNaN), Seq(cNaN, cNaN),
      Seq(cNaN, c1, cFar, c0))
    val vecs: Seq[Seq[Any]] = Seq(Seq(0.0, 0.0), Seq(0.5, 0.0), Seq(Double.NaN, 0.0),
      Seq(Double.PositiveInfinity, 0.0), Seq(Double.NegativeInfinity, 1.0), Seq(0.0),
      Seq(0.0, 0.0, 0.0), Seq(), null, Seq(1e-7, -1e-7), Seq(-0.0, 0.0))
    val schema = StructType(Seq(StructField("a", ArrayType(DoubleType, true))))
    val df = onDisk(schema, vecs.map(v => Row(v)))
    // check the constructed tie really is one only after rounding
    val d0 = 0.2500004; val d1 = 0.2500001
    assert(d1 < d0 && graft.expressions.VectorOps.round6(d0) == graft.expressions.VectorOps.round6(d1))
    inBothModes { mode =>
      tables.zipWithIndex.foreach { case (t, i) => assertCellsMatch(df, t, s"$mode table $i") }
      assertCellsMatch(df.select($"a".cast("array<float>").as("a")), Seq(c0, c1), s"$mode float ties")
    }
  }

  /** [[SemDedup.fit]] with the reference assignment: same seeds, same
    * decimal-routed mean update. */
  private def fitRef(corpus: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    val init = corpus
      .select($"vec_id", transform($"embedding", x => round(x.cast("double"), 6)).as("ce"))
      .orderBy($"vec_id").limit(k).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toSeq).toSeq
    (1 to iters).foldLeft(init) { (cents, _) =>
      val byCell = corpus.select(assignCellRef($"embedding", cents).as("cell"),
          posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"cell", $"pos")
        .agg(sum($"v".cast("double").cast("decimal(27,10)")).as("sd"), count(lit(1)).as("n"))
        .select($"cell", $"pos", round($"sd".cast("double") / $"n", 6).as("m"))
        .collect().groupBy(_.getInt(0))
      cents.indices.map { c =>
        byCell.get(c).fold(cents(c))(_.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }
    }
  }

  test("saveIvfPq at sf0.001 writes the cells, codes, codebooks and stats of the reference forms") {
    val dir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val m = AnnQueries.IvfPqM
    val sub = AnnQueries.IvfPqSubDim
    val e = SparkEntry.tbl(spark, sf0001, "embeddings")
      .filter(VectorFunctions.hasDim($"embedding", 64)).select($"vec_id", $"embedding")
    val refBooks = (0 until m).map { s =>
      fitRef(e.select($"vec_id", slice($"embedding", s * sub + 1, sub).as("embedding")),
        AnnQueries.IvfPqK, AnnQueries.IvfPqIters)
    }
    val written = AnnIndex.loadCodebooks(spark, dir)
    assert(written.keys.toSeq.sorted === (0 until m))
    (0 until m).foreach { s =>
      val w = written(s)
      assert(w.size === refBooks(s).size)
      w.zip(refBooks(s)).foreach { case (a, b) =>
        assert(a.map(java.lang.Double.doubleToRawLongBits) ===
          b.map(java.lang.Double.doubleToRawLongBits), s"codebook $s")
      }
    }
    // cells: the persisted quantizer over reference-normalized features
    val model = AnnIndex.loadQuantizer(spark, dir)
    val refCells = model.transform(e.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(l2NormalizeRef($"embedding"))))
      .select($"vec_id", $"cell".as("ref_cell"))
    val codes = (0 until m).map(s => assignCellRef(slice($"embedding", s * sub + 1, sub),
      refBooks(s)).as(s"ref_c$s"))
    val corpus = spark.read.parquet(s"$dir/corpus")
    val joined = corpus.join(refCells, Seq("vec_id"))
      .select(($"vec_id" +: $"cell" +: $"ref_cell" +: (0 until m).map(s => col(s"c$s"))) ++ codes: _*)
    assert(joined.count() === e.count() && corpus.count() === e.count())
    val diff = joined.filter(((0 until m).map(s => col(s"c$s") =!= col(s"ref_c$s")) :+
      ($"cell" =!= $"ref_cell")).reduce(_ || _))
    assert(diff.count() === 0, diff.limit(5).collect().mkString("; "))
    // stats: the observed mean against the reference per-row distortion
    val distortion = (0 until m).map { s =>
      val slc = slice($"embedding", s * sub + 1, sub)
      VectorExpressions.sqDist(slc,
        element_at(typedLit(refBooks(s)), assignCellRef(slc, refBooks(s)) + 1))
    }.reduce(_ + _)
    val ref = corpus.select(avg(distortion)).head().getDouble(0)
    val stat = AnnIndex.readEpochStats(spark, dir).get
    assert(math.abs(stat - ref) <= 1e-9 * math.abs(ref), s"observed $stat vs reference $ref")
  }

  /** Every higher-order function or codegen-fallback expression in the
    * optimized and physical plans of `df`. */
  private def interpreted(df: DataFrame): Seq[String] = {
    def scan(es: Seq[Expression]): Seq[String] = es.flatMap(_.collect {
      case h: HigherOrderFunction => h.prettyName
      case f: CodegenFallback => f.getClass.getSimpleName
    })
    val qe = df.queryExecution
    scan(qe.optimizedPlan.collectWithSubqueries { case p => p.expressions }.flatten) ++
      scan(qe.sparkPlan.collectWithSubqueries { case p => p.expressions }.flatten)
  }

  test("the index-build and encode plans evaluate no higher-order function and no codegen fallback") {
    val dir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet").select($"vec_id", $"embedding")
    val prepared = AnnIndex.prepare(corpus)
    // saveIvfPq's code projection over IvfIndex.assigned (the quantizer
    // over the prepared corpus), as it reaches the writer
    val codebooks = (0 until AnnQueries.IvfPqM).map(AnnIndex.loadCodebooks(spark, dir))
    val codeProjection = AnnIndex.withPqCodes(
      AnnIndex.loadQuantizer(spark, dir).transform(prepared).drop("features"),
      "embedding", codebooks, AnnQueries.IvfPqSubDim)
    val emb = new HashingEmbedder(64)
    val encoded = AnnIndex.encodeSegment(spark, dir, emb.embedCorpus(
      Seq(1L -> "plan guard", 2L -> "index build").toDF("vec_id", "text"), "text", "embedding"))
    for ((what, df) <- Seq("prepare" -> prepared, "saveIvfPq codes" -> codeProjection,
        "encodeSegment" -> encoded))
      assert(interpreted(df).isEmpty, s"$what evaluates ${interpreted(df).distinct.mkString(", ")}")
    // the guard sees what it guards against
    assert(interpreted(corpus.select(l2NormalizeRef($"embedding"))).contains("transform"))
  }

  test("appends to a non-compacting delta compile no class after the first batch") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val delta = tmp("graft_indexbuild_ingest") + "/delta"
    val emb = new HashingEmbedder(64)
    def append(b: Long): Long = {
      val puts = (0 until 3).map(i => (9_700_000L + b * 10 + i, s"ingest spec batch $b row $i"))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      AnnIndex.appendDeltaBatch(spark, dir, delta,
        emb.embedCorpus(puts.toDF("vec_id", "text"), "text", "embedding"), b, compactEvery = 0)
      AnnIndex.appendTombstones(spark, delta, Seq(b).toDF("vec_id"), b, compactEvery = 0)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    append(1L)
    for (b <- Seq(2L, 3L)) assert(append(b) === 0L, s"append $b compiled new classes")
  }
}
