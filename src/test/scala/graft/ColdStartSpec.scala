package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.queries.AnnQueries
import graft.search.{AnnIndex, HashingEmbedder, SearchEngine}
import graft.search.AnnIndex.ServingRoot

/** The cold-start artifact contract: one file per cell from the shared
  * cell writer, epoch stats observed in the write pass, and a serving
  * root seeded by byte copy. */
class ColdStartSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Data files per `cell=` directory of an artifact corpus. */
  private def filesPerCell(corpusDir: String): Map[String, Int] =
    new java.io.File(corpusDir).listFiles().filter(_.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-"))).toMap

  /** Relative path → bytes of every artifact file under `dir`, without
    * the filesystem's hidden checksum sidecars. */
  private def artifactFiles(dir: String, parts: Seq[String]): Map[String, Seq[Byte]] = {
    val base = Paths.get(dir)
    parts.map(base.resolve).filter(Files.exists(_)).flatMap { p =>
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".")).toList
      finally walk.close()
    }.map((f: Path) => base.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
  }

  private val parts = Seq("model", "codebooks", "corpus", "stats")

  /** A fold with a small live delta (puts + a delete) into a fresh dir. */
  private lazy val foldedDir: String = {
    val mainDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val deltaDir = tmp("graft_coldstart_delta")
    val out = tmp("graft_coldstart_fold") + "/epoch"
    val emb = new HashingEmbedder(64)
    AnnIndex.appendDeltaBatch(spark, mainDir, deltaDir,
      Seq(990001L -> "cold start alpha", 990002L -> "cold start beta")
        .map { case (i, t) => (i, emb.embed(t).toSeq, t) }
        .toDF("vec_id", "embedding", "text"), 0L, compactEvery = 2)
    AnnIndex.appendTombstones(spark, deltaDir, Seq(7L).toDF("vec_id"), 1L,
      compactEvery = 2)
    AnnIndex.majorCompact(spark, mainDir, deltaDir, out)
    out
  }

  test("saveIvfPq and majorCompact write exactly one data file per cell at fixture size") {
    for ((what, dir) <- Seq(
        "saveIvfPq sf0.001" -> AnnQueries.ivfPqIndexDir(spark, sf0001),
        "saveIvfPq sf0.01" -> AnnQueries.ivfPqIndexDir(spark, sf001),
        "majorCompact" -> foldedDir)) {
      val perCell = filesPerCell(s"$dir/corpus")
      assert(perCell.nonEmpty, s"$what: no cell directories")
      assert(perCell.values.forall(_ == 1), s"$what: files per cell $perCell")
    }
  }

  test("the epoch stats observed in the write pass equal meanDistortion over the written corpus") {
    for ((what, dir) <- Seq(
        "saveIvfPq" -> AnnQueries.ivfPqIndexDir(spark, sf0001),
        "majorCompact" -> foldedDir)) {
      val stat = AnnIndex.readEpochStats(spark, dir)
      assert(stat.isDefined, s"$what must write stats next to its corpus")
      val recomputed = AnnIndex.meanDistortion(spark, dir,
        spark.read.parquet(s"$dir/corpus").select($"embedding"))
      assert(math.abs(stat.get - recomputed) <= 1e-9 * math.abs(recomputed),
        s"$what: observed ${stat.get} vs recomputed $recomputed")
    }
  }

  test("ServingRoot.init seeds epoch_0 with byte-identical copies of the artifact's files") {
    val mainDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val root = tmp("graft_coldstart_copy") + "/r"
    ServingRoot.init(spark, mainDir, root)
    val (idx0, _) = ServingRoot.resolve(spark, root)
    val src = artifactFiles(mainDir, parts)
    val dst = artifactFiles(idx0, parts)
    assert(src.keySet.exists(_.startsWith("stats/")), "the artifact carries stats")
    assert(dst.keySet === src.keySet)
    src.foreach { case (f, bytes) => assert(dst(f) == bytes, s"$f differs after the copy") }
  }

  test("a partial epoch_0 left by a crashed init is replaced, not nested") {
    val mainDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val root = tmp("graft_coldstart_partial") + "/r"
    val epoch0 = Paths.get(ServingRoot.indexDir(root, 0L))
    Files.createDirectories(epoch0.resolve("corpus/cell=0"))
    Files.write(epoch0.resolve("corpus/cell=0/part-stale.parquet"), Array[Byte](1, 2, 3))
    Files.write(epoch0.resolve("half_written"), Array[Byte](4))
    ServingRoot.init(spark, mainDir, root)
    val listed = Files.walk(epoch0)
    val names = try listed.iterator().asScala.map(epoch0.relativize(_).toString).toList
      finally listed.close()
    val leftovers = names.filter(n => n.contains("stale") || n.contains("half_written"))
    assert(leftovers.isEmpty, s"leftovers survived init: $leftovers")
    assert(!names.exists(_.startsWith("corpus/corpus")), "the copy nested")
    assert(artifactFiles(epoch0.toString, parts).keySet ===
      artifactFiles(mainDir, parts).keySet)
    assert(spark.read.parquet(s"$epoch0/corpus").count() ===
      spark.read.parquet(s"$mainDir/corpus").count())
  }

  test("a root seeded by copy answers byte-identically to one folded through majorCompact") {
    val mainDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val copied = tmp("graft_coldstart_copied") + "/r"
    ServingRoot.init(spark, mainDir, copied)
    val folded = tmp("graft_coldstart_folded") + "/r"
    AnnIndex.majorCompact(spark, mainDir, ServingRoot.deltaDir(folded, -1L),
      ServingRoot.indexDir(folded, 0L))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    ServingRoot.publish(fs, folded, 0L)
    val eng = new SearchEngine(spark)
    val prompts = AnnQueries.BatchServedPrompts
    val filter = Seq("label" -> AnnQueries.FilterLabel)
    def answers(root: String): Seq[String] =
      prompts.flatMap(p => Seq(eng.searchJsonRoot(sf0001, root, p, 10),
        eng.searchJsonRoot(sf0001, root, p, 10, filter))) :+
        eng.searchJsonBatchRoot(sf0001, root, prompts, 10)
    val before = eng.indexFallbackCount.get
    val a = answers(copied)
    assert(a === answers(folded))
    assert(eng.indexFallbackCount.get === before, "both roots must serve from the index")
    assert(a.forall(_.contains("\"doc_id\"")))
  }
}
