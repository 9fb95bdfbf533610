package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.TopKAggregator
import graft.search.{HashingEmbedder, SearchEngine}

class SearchEngineSpec extends SparkSpec {
  import spark.implicits._

  lazy val eng = new SearchEngine(spark, new HashingEmbedder(64))

  test("streaming LSM maintenance: delta appends + compaction answer identically to batch and exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import graft.queries.AnnQueries
    val mainDir = AnnQueries.ivfPqMainIndexDir(spark, sf0001)
    val (a, b) = graft.functions.PortableHash.SplitPair
    val p = graft.functions.PortableHash.P
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(size($"embedding") === 64)
    val isDelta =
      ((lit(a) * $"vec_id" + lit(b)) % lit(p)) % 100 >= AnnQueries.DeltaBucketMin
    val delta = e.filter(isDelta).select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    assert(delta.size >= 3, "fixture delta split must carve into micro-batches")
    val deltaDir =
      java.nio.file.Files.createTempDirectory("graft_lsm_spec").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    // three micro-batches, compactEvery = 2: batches 0+1 fold into the
    // compacted segment, batch 2 stays in the live tail — the probe
    // must read main ∪ compacted ∪ live
    val q = eng.streamingIvfPqMaintain(
      mem.toDF().toDF("vec_id", "embedding"), mainDir, deltaDir,
      compactEvery = 2)()
    try {
      val third = (delta.size + 2) / 3
      delta.grouped(third).foreach { g =>
        mem.addData(g); q.processAllAvailable()
      }
    } finally q.stop()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$deltaDir/compacted_g0")),
      "compaction must have folded the first two batches into generation 0")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$deltaDir/manifest_g0")),
      "the compaction must have published its manifest")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$deltaDir/live/b2")),
      "the last batch must sit in the live tail")
    // the manifest-resolved segment set is exactly gen0 + the live tail
    // past its watermark — batches 0/1 are folded, never double-served
    val segs = graft.search.AnnIndex.deltaSegments(fs, deltaDir)
    assert(segs.head.endsWith("compacted_g0") && segs.size === 2 &&
      segs(1).endsWith("live/b2"), s"unexpected segment set: $segs")
    val qv = e.filter($"vec_id" === AnnQueries.CompactQueryId)
      .select($"embedding").head().getSeq[Float](0).toArray
    val got = graft.search.AnnIndex.probeIvfPqLsm(spark, mainDir, deltaDir,
      qv, 10, AnnQueries.IvfNProbe, AnnQueries.CompactShortlist)
    // every segment scan in the probe plan is pruned to the probed cells
    val plan = got.queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(l => l.contains("Scan parquet") &&
      (l.contains("graft_ivfpqmain_index") || l.contains("graft_lsm_spec"))).toSeq
    assert(scans.size >= 3, s"main + compacted + live scans expected:\n$plan")
    scans.foreach(l => assert(
      l.contains("PartitionFilters: [") && l.contains("cell#"),
      s"segment scan must partition-prune on cell: $l"))
    val gotRows = got.as[(Long, Double)].collect().toSeq
    // replay == batch: a ONE-SHOT encode of the same rows answers
    // identically — the index state is a function of the rows, not of
    // the batch carve or the compaction schedule
    val batchSeg = graft.search.AnnIndex.encodeSegment(spark, mainDir,
      e.filter(isDelta).select($"vec_id", $"embedding"))
    val batchRows = graft.search.AnnIndex.probeIvfPqSegments(spark, mainDir,
        Seq(spark.read.parquet(s"$mainDir/corpus"), batchSeg),
        qv, 10, AnnQueries.IvfNProbe, AnnQueries.CompactShortlist)
      .as[(Long, Double)].collect().toSeq
    assert(gotRows === batchRows, "streamed index diverges from one-shot batch encode")
    // and == the exact scan (q153's certified query + shortlist)
    val exact = e.withColumn("score",
        round(neo4jScore($"embedding", typedLit(qv.toSeq)), 6))
      .orderBy($"score".desc, $"vec_id".asc).limit(10)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    assert(gotRows === exact, "LSM probe diverges from the exact top-10")
  }

  test("at-least-once replay of delta batches leaves the LSM index unchanged") {
    import graft.queries.AnnQueries
    val mainDir = AnnQueries.ivfPqMainIndexDir(spark, sf0001)
    val (a, b) = graft.functions.PortableHash.SplitPair
    val p = graft.functions.PortableHash.P
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(size($"embedding") === 64)
    val isDelta =
      ((lit(a) * $"vec_id" + lit(b)) % lit(p)) % 100 >= AnnQueries.DeltaBucketMin
    val delta = e.filter(isDelta).select($"vec_id", $"embedding")
    val half = delta.filter($"vec_id" % 2 === 0)
    val rest = delta.filter($"vec_id" % 2 =!= 0)
    val deltaDir =
      java.nio.file.Files.createTempDirectory("graft_lsm_replay").toString
    def append(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      graft.search.AnnIndex.appendDeltaBatch(
        spark, mainDir, deltaDir, batch, id, compactEvery = 2)
    append(half, 0)
    append(half, 0) // foreachBatch retry of an uncommitted batch
    append(rest, 1) // compacts generation 0
    append(rest, 1) // replay AFTER the publish (crash before checkpoint
                    // commit) — must fold into gen 1, not duplicate
    val qv = e.filter($"vec_id" === AnnQueries.CompactQueryId)
      .select($"embedding").head().getSeq[Float](0).toArray
    val gotRows = graft.search.AnnIndex.probeIvfPqLsm(spark, mainDir, deltaDir,
        qv, 10, AnnQueries.IvfNProbe, AnnQueries.CompactShortlist)
      .as[(Long, Double)].collect().toSeq
    val batchSeg = graft.search.AnnIndex.encodeSegment(spark, mainDir, delta)
    val batchRows = graft.search.AnnIndex.probeIvfPqSegments(spark, mainDir,
        Seq(spark.read.parquet(s"$mainDir/corpus"), batchSeg),
        qv, 10, AnnQueries.IvfNProbe, AnnQueries.CompactShortlist)
      .as[(Long, Double)].collect().toSeq
    assert(gotRows === batchRows,
      "replayed batches must leave the index identical to exactly-once delivery")
    // the replayed compaction must also not have grown the index: the
    // current segment set holds exactly one row per delta vector
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val segs = graft.search.AnnIndex.deltaSegments(fs, deltaDir)
    val nRows = segs.map(spark.read.parquet(_).count()).sum
    assert(nRows === delta.count(),
      s"segment set $segs must hold one row per ingested vector")
    // grace-period GC: a segment set resolved BEFORE a compaction must
    // still be fully on disk AFTER it — the snapshot a racing probe
    // planned its scans against is never deleted under it (only the
    // generation after next may reclaim it)
    val before = graft.search.AnnIndex.deltaSegments(fs, deltaDir)
    append(half, 2)
    append(rest, 3) // compacts generation 2
    before.foreach(d => assert(
      fs.exists(new org.apache.hadoop.fs.Path(d)),
      s"pre-compaction segment $d must survive one compaction (grace GC)"))
    val after = graft.search.AnnIndex.deltaSegments(fs, deltaDir)
    val nRows2 = after.map(spark.read.parquet(_).count()).sum
    assert(nRows2 === delta.count(),
      s"post-compaction segment set $after must still hold one row per vector")
    // ...and GC must actually reclaim: after the gen-2 compaction only
    // generations 1 (grace copy) and 2 may remain on disk — the store
    // does not leak a directory per compaction
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(deltaDir))
      .map(_.getPath.getName).filter(_.startsWith("compacted_g")).sorted
    assert(gens.toSeq === Seq("compacted_g1", "compacted_g2"),
      s"expected exactly the current + grace generations, got ${gens.toSeq}")
  }

  test("streaming doc ingest: new documents are served from the evolving index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val deltaDir =
      java.nio.file.Files.createTempDirectory("graft_docingest_spec").toString
    val mem = MemoryStream[(Long, String)]
    val q = eng.streamingDocIngest(
      mem.toDF().toDF("doc_id", "text"), sf0001, deltaDir, compactEvery = 2)()
    val newDocs = Seq(
      (900001L, "zebra quantum flux capacitor"),
      (900002L, "violet meridian cascade"),
      (900003L, "umbral glacier syncopation"))
    try {
      mem.addData(newDocs.take(2)); q.processAllAvailable()
      mem.addData(newDocs.drop(2)); q.processAllAvailable()
    } finally q.stop()
    // a prompt equal to an ingested doc's text must rank that doc
    // FIRST at score 1.0, payload round-tripped from the delta
    // segment rows — content ingested at micro-batch t is served at
    // t+1 with no index rebuild
    val served = eng.searchIndexed(sf0001, newDocs(2)._2, k = 3,
        deltaDir = Some(deltaDir))
      .as[(Long, String, Double)].collect()
    assert(served.nonEmpty && served.head._1 === 900003L &&
      served.head._3 === 1.0 && served.head._2 === newDocs(2)._2,
      s"ingested doc must be served with its payload: ${served.toSeq}")
    // ...and a doc from the FIRST batch too (it sits in the folded
    // compacted generation, not the live tail)
    val served1 = eng.searchIndexed(sf0001, newDocs.head._2, k = 3,
        deltaDir = Some(deltaDir))
      .as[(Long, String, Double)].collect()
    assert(served1.nonEmpty && served1.head._1 === 900001L &&
      served1.head._3 === 1.0, s"folded doc must be served: ${served1.toSeq}")
    // without the delta, the static route cannot know the new doc
    val static = eng.searchIndexed(sf0001, newDocs(2)._2, k = 3)
      .as[(Long, String, Double)].collect()
    assert(!static.exists(_._1 === 900003L),
      "static route must not serve a doc that was never in its corpus")
    // the EXACT route honors the delta too — the fallback's answer set
    // must match the index route's, never drop streamed-in docs
    val exact = eng.search(sf0001, newDocs(2)._2, k = 3, Some(deltaDir)).collect()
    assert(exact.nonEmpty && exact.head.doc_id === 900003L &&
      exact.head.score === 1.0,
      s"exact route must serve the ingested doc: ${exact.toSeq}")
    // id collision: the CORPUS is canonical — re-ingesting an existing
    // corpus id must neither list that document twice nor let the
    // delta's embedding outrank the stored one, and the indexed route
    // must answer exactly like the exact route (the "slower, never
    // wronger" contract: both anti-join colliding ids out of the
    // delta). A fresh id in the same delta still serves normally.
    val deltaDir2 =
      java.nio.file.Files.createTempDirectory("graft_docingest_coll").toString
    val mem2 = MemoryStream[(Long, String)]
    val q2 = eng.streamingDocIngest(
      mem2.toDF().toDF("doc_id", "text"), sf0001, deltaDir2, compactEvery = 0)()
    try {
      mem2.addData(Seq((0L, "collision probe text"),
        (900010L, "collision probe text fresh")))
      q2.processAllAvailable()
    } finally q2.stop()
    val coll = eng.searchIndexed(sf0001, "collision probe text", k = 5,
        deltaDir = Some(deltaDir2))
      .as[(Long, String, Double)].collect()
    assert(coll.map(_._1).distinct.length === coll.length,
      s"served top-k must be id-unique under re-ingest: ${coll.toSeq}")
    assert(!coll.exists(r => r._1 === 0L && r._3 === 1.0),
      s"a colliding re-ingest must not serve the delta embedding: ${coll.toSeq}")
    assert(coll.exists(_._1 === 900010L),
      s"the fresh id in the same delta must still serve: ${coll.toSeq}")
    val collExact = eng.search(sf0001, "collision probe text", k = 5,
      Some(deltaDir2)).collect().map(h => (h.doc_id, h.text, h.score))
    assert(coll.toSeq === collExact.toSeq,
      "indexed and exact routes must agree under id collision")
  }

  test("streamingDocApply lifecycle: deletes unserve (corpus docs too), corrections re-serve") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val deltaDir =
      java.nio.file.Files.createTempDirectory("graft_docapply_spec").toString
    val corpusDoc0 = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter($"doc_id" === 0L).select($"text").as[String].head()
    val mem = MemoryStream[(Long, String, String)]
    val q = eng.streamingDocApply(
      mem.toDF().toDF("doc_id", "text", "op"), sf0001, deltaDir,
      compactEvery = 2)()
    try {
      // b0: ingest alpha + beta; b1: ingest the gamma draft, delete
      // corpus doc 0 and beta (compactEvery=2 folds both stores here);
      // b2: delete gamma; b3: re-ingest gamma corrected
      mem.addData(Seq((900031L, "apply alpha text", "put"),
        (900032L, "apply beta text", "put")))
      q.processAllAvailable()
      mem.addData(Seq((900033L, "apply gamma draft text", "put"),
        (0L, "", "del"), (900032L, "", "del")))
      q.processAllAvailable()
      mem.addData(Seq((900033L, "", "del")))
      q.processAllAvailable()
      mem.addData(Seq((900033L, "apply gamma corrected text", "put")))
      q.processAllAvailable()
    } finally q.stop()
    def servedIds(prompt: String) =
      eng.searchIndexed(sf0001, prompt, k = 5, deltaDir = Some(deltaDir))
        .as[(Long, String, Double)].collect()
    // the DELETED corpus doc is unserved even as its own exact match —
    // on the indexed route AND the exact fallback
    val c0 = servedIds(corpusDoc0)
    assert(!c0.exists(_._1 === 0L),
      s"deleted corpus doc must be unserved: ${c0.toSeq}")
    val c0Exact = eng.search(sf0001, corpusDoc0, k = 5, Some(deltaDir)).collect()
    assert(!c0Exact.exists(_.doc_id === 0L),
      s"deleted corpus doc must be unserved on the exact route: ${c0Exact.toSeq}")
    // the fresh-id takedown
    val beta = servedIds("apply beta text")
    assert(!beta.exists(_._1 === 900032L),
      s"deleted ingested doc must be unserved: ${beta.toSeq}")
    // correction: the newest version serves, the superseded one cannot
    val gamma = servedIds("apply gamma corrected text")
    assert(gamma.head._1 === 900033L && gamma.head._3 === 1.0 &&
      gamma.head._2 === "apply gamma corrected text",
      s"the corrected re-ingest must serve: ${gamma.toSeq}")
    val draft = servedIds("apply gamma draft text")
    assert(!draft.exists(r => r._1 === 900033L && r._3 === 1.0),
      s"the superseded draft must not serve: ${draft.toSeq}")
    // the untouched ingest still serves, and indexed == exact on it
    val alpha = servedIds("apply alpha text")
    assert(alpha.head._1 === 900031L && alpha.head._3 === 1.0)
    val alphaExact = eng.search(sf0001, "apply alpha text", k = 5,
      Some(deltaDir)).collect().map(h => (h.doc_id, h.text, h.score))
    assert(alpha.toSeq === alphaExact.toSeq,
      "indexed and exact routes must agree on the lifecycle state")
  }

  test("streamingDocApply rejects an unknown op loudly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val deltaDir =
      java.nio.file.Files.createTempDirectory("graft_docapply_badop").toString
    val mem = MemoryStream[(Long, String, String)]
    val q = eng.streamingDocApply(
      mem.toDF().toDF("doc_id", "text", "op"), sf0001, deltaDir,
      compactEvery = 0)()
    try {
      mem.addData(Seq((900041L, "some text", "upsert")))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("unknown op") ||
        Option(err.getCause).exists(_.getMessage.contains("unknown op")))
    } finally q.stop()
  }

  test("streamingDocApply rejects a NULL op as loudly as an unknown one") {
    // `!isin` on a null op evaluates to null (dropped by filter) and
    // the row also fails both the put and del arms — without the
    // explicit isNull guard the operation would be LOST silently
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val deltaDir =
      java.nio.file.Files.createTempDirectory("graft_docapply_nullop").toString
    val mem = MemoryStream[(Long, String, Option[String])]
    val q = eng.streamingDocApply(
      mem.toDF().toDF("doc_id", "text", "op"), sf0001, deltaDir,
      compactEvery = 0)()
    try {
      mem.addData(Seq((900042L, "some text", None)))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("unknown op") ||
        Option(err.getCause).exists(_.getMessage.contains("unknown op")))
    } finally q.stop()
  }

  test("a mixed-schema delta under a filter serves rows that carry AND match the column") {
    import graft.search.AnnIndex
    val mainDir = graft.queries.AnnQueries.ivfPqIndexDir(spark, sf0001)
    val deltaDir =
      java.nio.file.Files.createTempDirectory("graft_mixedschema_spec").toString + "/d"
    val label = graft.queries.AnnQueries.FilterLabel
    // batch 0 predates labeling (no label column); batch 1 carries it —
    // the mixed-schema shape a real ingest hits when labels are added
    // after the first batches
    AnnIndex.appendDeltaBatch(spark, mainDir, deltaDir,
      Seq((900071L, new HashingEmbedder(64).embed("mixed schema early text").toSeq,
        "mixed schema early text"))
        .toDF("vec_id", "embedding", "text"), 0L, compactEvery = 0)
    AnnIndex.appendDeltaBatch(spark, mainDir, deltaDir,
      Seq((900072L, new HashingEmbedder(64).embed("mixed schema labeled text").toSeq,
        "mixed schema labeled text", label))
        .toDF("vec_id", "embedding", "text", "label"), 1L, compactEvery = 0)
    val filt = Seq("label" -> (label: Any))
    // the labeled row must serve under the filter even though another
    // segment lacks the column; the unlabeled row must not
    val served = eng.searchIndexed(sf0001, "mixed schema labeled text", k = 5,
        deltaDir = Some(deltaDir), filter = filt)
      .as[(Long, String, Double)].collect()
    assert(served.head._1 === 900072L && served.head._3 === 1.0,
      s"a labeled row in a mixed-schema delta must serve under its filter: ${served.toSeq}")
    assert(!served.exists(_._1 === 900071L),
      s"rows lacking the filtered column must be excluded per ROW: ${served.toSeq}")
    // the exact route applies the same per-row rule
    val exact = eng.search(sf0001, "mixed schema labeled text", k = 5,
      Some(deltaDir), filt).collect().map(h => (h.doc_id, h.text, h.score))
    assert(served.toSeq === exact.toSeq,
      "indexed and exact routes must agree on the mixed-schema rule")
  }

  test("majorCompact: post-fold probe == pre-fold, tombstones physically gone, fold write-only") {
    import graft.search.AnnIndex
    val mainDir = graft.queries.AnnQueries.ivfPqIndexDir(spark, sf0001)
    val deltaDir =
      java.nio.file.Files.createTempDirectory("graft_majorfold_spec").toString + "/d"
    val outDir =
      java.nio.file.Files.createTempDirectory("graft_majorfold_out").toString + "/a"
    // script: ingest two docs, delete corpus doc 7 and one ingest,
    // correct the other across batches
    def put(rows: Seq[(Long, String)], id: Long): Unit =
      AnnIndex.appendDeltaBatch(spark, mainDir, deltaDir,
        rows.map { case (i, t) =>
          (i, new HashingEmbedder(64).embed(t).toSeq, t)
        }.toDF("vec_id", "embedding", "text"), id, compactEvery = 2)
    def del(ids: Seq[Long], id: Long): Unit =
      AnnIndex.appendTombstones(spark, deltaDir, ids.toDF("vec_id"), id,
        compactEvery = 2)
    put(Seq(900051L -> "fold alpha text", 900052L -> "fold beta text"), 0L)
    del(Seq(7L, 900052L), 1L)
    put(Seq(900051L -> "fold alpha corrected"), 2L)
    val qv = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" === 7L).select($"embedding").head().getSeq[Float](0).toArray
    val pre = AnnIndex.probeIvfPqLsm(spark, mainDir, deltaDir, qv,
      k = 10, nProbe = graft.queries.AnnQueries.IvfNProbe,
      shortlist = graft.queries.AnnQueries.ServedShortlist)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    AnnIndex.majorCompact(spark, mainDir, deltaDir, outDir)
    val post = AnnIndex.probeIvfPq(spark, outDir, qv,
      k = 10, nProbe = graft.queries.AnnQueries.IvfNProbe,
      shortlist = graft.queries.AnnQueries.ServedShortlist)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pre === post, s"fold changed the served answers: $pre vs $post")
    assert(!post.exists(_._1 === 7L), "the deleted corpus doc must stay unserved")
    // tombstoned keys are PHYSICALLY absent from the folded corpus —
    // deletes stop costing probe-side anti-joins
    val folded = spark.read.parquet(s"$outDir/corpus")
    assert(folded.filter($"vec_id".isin(7L, 900052L)).count() === 0L,
      "tombstoned keys must not survive the fold physically")
    // the corrected ingest rides the folded corpus with its payload
    val alpha = folded.filter($"vec_id" === 900051L)
      .select($"text").as[String].collect().toSeq
    assert(alpha === Seq("fold alpha corrected"),
      s"the newest version must fold in exactly once: $alpha")
    // PUBLISH-THEN-RETIRE: the fold is write-only — the delta (and its
    // tombstone store) survives it untouched, so a prober that
    // resolved (old artifact, delta) mid-fold still finds everything
    // it planned to scan; retirement is the serving root's grace GC,
    // one fold cycle later
    assert(new java.io.File(deltaDir).exists(),
      "the fold must not retire the delta (grace-period discipline)")
    val preAgain = AnnIndex.probeIvfPqLsm(spark, mainDir, deltaDir, qv,
      k = 10, nProbe = graft.queries.AnnQueries.IvfNProbe,
      shortlist = graft.queries.AnnQueries.ServedShortlist)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(preAgain === pre,
      "the old (artifact, delta) snapshot must keep serving bit-identically after the fold")
  }

  test("serving root: an embedder-space mismatch is LOUD on both root routes — never the silent fallback") {
    import graft.search.AnnIndex.ServingRoot
    val eng = new graft.search.SearchEngine(spark)
    val mainDir = graft.queries.AnnQueries.ivfPqIndexDir(spark, sf0001)
    val root = java.nio.file.Files
      .createTempDirectory("graft_embsig_spec").toString + "/r"
    ServingRoot.init(spark, mainDir, root,
      embedderSig = Some("HashingEmbedder/dim=64/murmur3=7777"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(ServingRoot.readEmbedder(fs, root) ===
      Some("HashingEmbedder/dim=64/murmur3=7777"))
    // the serving engine embeds with murmur3=42: same dim, different
    // space — the dim guard cannot see it, so the stamp must. Both
    // root routes throw BEFORE the fallback try (a degraded exact
    // scan would compare the mis-embedded prompt against the corpus
    // vectors — confidently wrong scores)
    val e1 = intercept[IllegalStateException] {
      eng.searchJsonRoot(sf0001, root, "fast hash join", 3)
    }
    assert(e1.getMessage.contains("murmur3=7777") &&
      e1.getMessage.contains(eng.embedder.signature))
    intercept[IllegalStateException] {
      eng.searchJsonBatchRoot(sf0001, root, Seq("fast hash join"), 3)
    }
    // a MATCHING stamp serves; an UNSTAMPED (legacy) root passes
    val root2 = java.nio.file.Files
      .createTempDirectory("graft_embsig_spec2").toString + "/r"
    ServingRoot.init(spark, mainDir, root2,
      embedderSig = Some(eng.embedder.signature))
    assert(eng.searchJsonRoot(sf0001, root2, "fast hash join", 3)
      .contains("\"doc_id\""))
    val root3 = java.nio.file.Files
      .createTempDirectory("graft_embsig_spec3").toString + "/r"
    ServingRoot.init(spark, mainDir, root3)
    assert(ServingRoot.readEmbedder(fs, root3).isEmpty)
    assert(eng.searchJsonRoot(sf0001, root3, "fast hash join", 3)
      .contains("\"doc_id\""))
  }

  test("serving root: fold publishes by pointer, old epoch + tombstones survive one grace cycle") {
    import graft.search.AnnIndex
    import graft.search.AnnIndex.ServingRoot
    val mainDir = graft.queries.AnnQueries.ivfPqIndexDir(spark, sf0001)
    val root =
      java.nio.file.Files.createTempDirectory("graft_servingroot_spec").toString + "/r"
    AnnIndex.ServingRoot.init(spark, mainDir, root)
    val (idx0, delta0) = ServingRoot.resolve(spark, root)
    assert(idx0.endsWith("epoch_0") && delta0.endsWith("epoch_0_delta"))
    def put(rows: Seq[(Long, String)], id: Long, delta: String): Unit =
      AnnIndex.appendDeltaBatch(spark, idx0, delta,
        rows.map { case (i, t) =>
          (i, new HashingEmbedder(64).embed(t).toSeq, t)
        }.toDF("vec_id", "embedding", "text"), id, compactEvery = 0)
    def del(ids: Seq[Long], id: Long, delta: String): Unit =
      AnnIndex.appendTombstones(spark, delta, ids.toDF("vec_id"), id,
        compactEvery = 0)
    // epoch-0 lifecycle: ingest a sentinel doc, delete corpus doc 9
    put(Seq(900081L -> "root sentinel text"), 0L, delta0)
    del(Seq(9L), 1L, delta0)
    val qv = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" === 9L).select($"embedding").head().getSeq[Float](0).toArray
    def probe(idx: String, delta: String) =
      AnnIndex.probeIvfPqLsm(spark, idx, delta, qv,
        k = 10, nProbe = graft.queries.AnnQueries.IvfNProbe,
        shortlist = graft.queries.AnnQueries.ServedShortlist)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pre = probe(idx0, delta0)
    assert(!pre.exists(_._1 === 9L) && pre.nonEmpty)
    // FOLD 1 → epoch 1. The swap is the pointer; the old pair must
    // keep serving (this is the resurrection-window assertion: a
    // prober that resolved pre-publish still sees the tombstones)
    assert(AnnIndex.majorFoldPublish(spark, root) === 1L)
    val (idx1, delta1) = ServingRoot.resolve(spark, root)
    assert(idx1.endsWith("epoch_1"))
    assert(probe(idx1, delta1) === pre,
      "the folded epoch must serve the pre-fold answers")
    assert(probe(idx0, delta0) === pre,
      "a pre-publish resolution must keep serving bit-identically (grace)")
    assert(new java.io.File(delta0).exists,
      "epoch 0's delta (tombstones included) must survive fold 1")
    // the folded corpus physically dropped the tombstoned key and
    // carries the sentinel
    val folded = spark.read.parquet(s"$idx1/corpus")
    assert(folded.filter($"vec_id" === 9L).count() === 0L)
    assert(folded.filter($"vec_id" === 900081L).count() === 1L)
    // FOLD 2 → epoch 2: NOW epoch 0 and its delta retire (grace GC),
    // epoch 1 and its delta survive
    del(Seq(11L), 0L, delta1)
    assert(AnnIndex.majorFoldPublish(spark, root) === 2L)
    assert(!new java.io.File(idx0).exists && !new java.io.File(delta0).exists,
      "fold 2 must retire epoch 0 and its delta")
    assert(new java.io.File(idx1).exists,
      "epoch 1 must survive fold 2 (grace)")
    val (idx2, delta2) = ServingRoot.resolve(spark, root)
    val post2 = probe(idx2, delta2)
    assert(!post2.exists(r => r._1 === 9L || r._1 === 11L),
      s"both deletes must hold after two folds: $post2")
    assert(post2.exists(_._1 === 900081L) === pre.exists(_._1 === 900081L))
    // the root probe face resolves the pointer itself
    val viaRoot = AnnIndex.probeIvfPqRoot(spark, root, qv,
      k = 10, nProbe = graft.queries.AnnQueries.IvfNProbe,
      shortlist = graft.queries.AnnQueries.ServedShortlist)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaRoot === post2)
  }

  test("refit actuation: a shifted delta trips the gauge, the refit restores the geometry") {
    import graft.search.AnnIndex
    import graft.search.AnnIndex.ServingRoot
    import graft.queries.AnnQueries
    val mainDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val root = java.nio.file.Files
      .createTempDirectory("graft_refit_spec").toString + "/r"
    ServingRoot.init(spark, mainDir, root)
    val (idx0, delta0) = ServingRoot.resolve(spark, root)
    def actuate() = AnnIndex.refitIfDrifted(spark, root, AnnQueries.IvfCells,
      AnnQueries.IvfPqSubDim, AnnQueries.IvfPqK, AnnQueries.IvfPqIters,
      AnnQueries.RefitDriftMax)
    // empty delta: nothing arrived, nothing drifted, no refit
    assert(actuate() === ((1.0, None)))
    // IN-DISTRIBUTION ingest: corpus-like vectors keep the gauge under
    // the trigger — the actuation is a measured decision, not a reflex
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(size($"embedding") === 64)
    val inDist = corpus.limit(5)
      .select(($"vec_id" + 910000000L).as("vec_id"), $"embedding")
    AnnIndex.appendDeltaBatch(spark, idx0, delta0, inDist, 0L, compactEvery = 0)
    val (inRatio, inRefit) = actuate()
    assert(inRefit.isEmpty && inRatio <= AnnQueries.RefitDriftMax,
      s"an in-distribution delta must not trip the gauge (ratio $inRatio)")
    // PLANT THE SHIFT: the same vectors offset far outside the fitted
    // space — the 'ingest distribution moved' scenario the gauge
    // exists for
    val shifted = corpus.limit(40)
      .select(($"vec_id" + 920000000L).as("vec_id"),
        transform($"embedding", v => v + lit(3.0f)).as("embedding"))
    AnnIndex.appendDeltaBatch(spark, idx0, delta0, shifted, 1L, compactEvery = 0)
    val (ratio, refitEpoch) = actuate()
    assert(ratio > AnnQueries.RefitDriftMax,
      s"the planted shift must trip the gauge (ratio $ratio)")
    assert(refitEpoch === Some(1L), "a tripped gauge must actuate the refit")
    val (idx1, delta1) = ServingRoot.resolve(spark, root)
    assert(idx1.endsWith("epoch_1") && new java.io.File(s"$idx1/corpus").exists)
    // post-refit the geometry FITS the evolved corpus again: the very
    // rows that tripped the gauge collapse from the tripped ratio to
    // near the corpus's own mean under the refitted codebooks (they
    // are a small minority of the mixed fit, so parity — not
    // sub-mean — is the honest bar: a handful of centroids serve
    // their region)
    val shiftedRows = shifted.select($"embedding")
    val postShift = AnnIndex.meanDistortion(spark, idx1, shiftedRows)
    val postCorpus = AnnIndex.meanDistortion(spark, idx1,
      spark.read.parquet(s"$idx1/corpus").select($"embedding"))
    val postRatio = postShift / postCorpus
    assert(postRatio <= math.max(2.0, ratio / 10),
      s"post-refit the shifted rows must be back in-geometry " +
        s"(post ratio $postRatio, tripped ratio $ratio)")
    // …and the refitted epoch still serves EXACTLY: root probes equal
    // the brute-force top-10 over the live corpus it folded
    val qv = shifted.orderBy($"vec_id").select($"embedding")
      .head().getSeq[Float](0).toArray
    val got = AnnIndex.probeIvfPqRoot(spark, root, qv, 10,
      AnnQueries.IvfNProbe, AnnQueries.ServedShortlist)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = spark.read.parquet(s"$idx1/corpus")
      .select($"vec_id", round(neo4jScore($"embedding",
        typedLit(qv.toSeq)), 6).as("score"))
      .orderBy($"score".desc, $"vec_id".asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want, "the refitted artifact must keep serving exact top-10")
  }

  test("the lifecycle rules COMPOSE: filter + tombstones + corrections in one served call") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val deltaDir =
      java.nio.file.Files.createTempDirectory("graft_compose_spec").toString
    val mem = MemoryStream[(Long, String, String)]
    val q = eng.streamingDocApply(
      mem.toDF().toDF("doc_id", "text", "op"), sf0001, deltaDir,
      compactEvery = 2)()
    try {
      mem.addData(Seq((900061L, "compose probe text one", "put"),
        (900062L, "compose probe text two", "put")))
      q.processAllAvailable()
      mem.addData(Seq((900062L, "", "del"), (0L, "", "del")))
      q.processAllAvailable()
    } finally q.stop()
    val filt = Seq("label" -> (graft.queries.AnnQueries.FilterLabel: Any))
    // under a filter the delta docs (no label column rides this doc
    // ingest) can never match, deleted corpus docs stay unserved, and
    // the indexed route still equals the exact route — all three rule
    // families active in ONE call
    val served = eng.searchIndexed(sf0001, "compose probe text one", k = 5,
        deltaDir = Some(deltaDir), filter = filt)
      .as[(Long, String, Double)].collect()
    assert(!served.exists(r => r._1 >= 900061L),
      s"unlabeled delta docs must not match a label filter: ${served.toSeq}")
    assert(!served.exists(_._1 === 0L),
      s"the deleted corpus doc must stay unserved under a filter: ${served.toSeq}")
    val exact = eng.search(sf0001, "compose probe text one", k = 5,
      Some(deltaDir), filt).collect().map(h => (h.doc_id, h.text, h.score))
    assert(served.toSeq === exact.toSeq,
      "indexed and exact routes must agree under filter + lifecycle")
    // and WITHOUT the filter the same delta serves its live doc while
    // the tombstoned one stays gone — the filter changed visibility,
    // never state
    val unfiltered = eng.searchIndexed(sf0001, "compose probe text one", k = 5,
        deltaDir = Some(deltaDir))
      .as[(Long, String, Double)].collect()
    assert(unfiltered.head._1 === 900061L && unfiltered.head._3 === 1.0)
    assert(!unfiltered.exists(_._1 === 900062L),
      s"the deleted ingest must stay unserved: ${unfiltered.toSeq}")
  }

  test("served k is guarded: a hostile k fails loudly, the cap serves fine") {
    val err = intercept[IllegalArgumentException] {
      eng.searchIndexed(sf0001, "any prompt", k = SearchEngine.MaxServedK + 1)
    }
    assert(err.getMessage.contains("served k"))
    intercept[IllegalArgumentException] {
      eng.searchIndexed(sf0001, "any prompt", k = 0)
    }
    // the cap itself is a legal request (bounded In-list by design)
    assert(eng.searchIndexed(sf0001, "any prompt",
      k = SearchEngine.MaxServedK).limit(1).count() === 1L)
  }

  test("delta re-ingest across batches serves the newest row (last-writer-wins)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val deltaDir =
      java.nio.file.Files.createTempDirectory("graft_docingest_lww").toString
    val mem = MemoryStream[(Long, String)]
    val q = eng.streamingDocIngest(
      mem.toDF().toDF("doc_id", "text"), sf0001, deltaDir, compactEvery = 0)()
    try {
      mem.addData(Seq((900021L, "first draft wording"))); q.processAllAvailable()
      mem.addData(Seq((900021L, "corrected final wording"))); q.processAllAvailable()
    } finally q.stop()
    // the correction must be what serves — embedding AND payload — on
    // both routes, even though both batches sit uncompacted in the
    // live tail
    val served = eng.searchIndexed(sf0001, "corrected final wording", k = 3,
        deltaDir = Some(deltaDir))
      .as[(Long, String, Double)].collect()
    assert(served.head._1 === 900021L && served.head._3 === 1.0 &&
      served.head._2 === "corrected final wording",
      s"the newest ingest of an id must serve: ${served.toSeq}")
    val exact = eng.search(sf0001, "corrected final wording", k = 3,
      Some(deltaDir)).collect()
    assert(exact.head.doc_id === 900021L && exact.head.score === 1.0 &&
      exact.head.text === "corrected final wording",
      s"exact route must apply the same last-writer-wins: ${exact.toSeq}")
    // and the superseded draft no longer matches at 1.0 anywhere
    val old = eng.searchIndexed(sf0001, "first draft wording", k = 3,
        deltaDir = Some(deltaDir))
      .as[(Long, String, Double)].collect()
    assert(!old.exists(r => r._1 === 900021L && r._3 === 1.0),
      s"the superseded embedding must not serve: ${old.toSeq}")
  }

  test("flagship entry returns ranked hits with scores in [0,1]") {
    val hits = SparkEntry.entry(spark).collect()
    assert(hits.nonEmpty && hits.length <= 10)
    val scores = hits.map(_.getAs[Double]("score"))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores.sameElements(scores.sorted.reverse), "sorted desc")
  }

  test("self-query ranks the query vector first with score 1") {
    val corpus = eng.corpus(sf0001)
    val qv = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" === 7).head().getSeq[Float](1).toArray
    val hits = eng.topK(corpus, qv, 3).collect()
    assert(hits.head.doc_id == 7)
    assert(math.abs(hits.head.score - 1.0) < 1e-9)
  }

  test("searchJson returns explicit empty message on empty corpus (intended O10 semantics)") {
    val emptyEng = new SearchEngine(spark)
    val corpus = eng.corpus(sf0001).filter(lit(false))
    val r = emptyEng.topK(corpus, new HashingEmbedder(64).embed("x"), 5).collect()
    assert(r.isEmpty)
    // the string path
    assert(eng.searchJson(sf0001, "anything", 0) == "No results found.")
  }

  test("metadata-filtered search only returns rows matching the predicate") {
    val corpus = eng.corpus(sf0001)
    val qv = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" === 0).head().getSeq[Float](1).toArray
    val hits = eng.filteredTopK(corpus, col("lang") === "es", qv, 5)
    val langs = hits.toDF().join(
        spark.read.parquet(s"$sf0001/documents.parquet"), Seq("doc_id"))
      .select($"lang").as[String].collect()
    assert(langs.nonEmpty && langs.forall(_ == "es"))
  }

  test("HashingEmbedder is deterministic and unit-norm") {
    val e = new HashingEmbedder(64)
    val a = e.embed("fast hash join table")
    val b = e.embed("fast hash join table")
    assert(a.sameElements(b))
    val n = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(n - 1.0) < 1e-6)
  }

  test("embedCorpus adds a unit-norm vector per row via mapPartitions") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(20)
    val out = new HashingEmbedder(32).embedCorpus(docs, "text", "emb")
    assert(out.schema("emb").dataType.typeName == "array")
    val norms = out.select(l2Norm(col("emb")).as("n")).as[Double].collect()
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-5))
  }

  test("TopKAggregator.knnJoin matches window-based knn join exactly") {
    val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = embs.filter($"vec_id" < 3)
    val viaAgg = TopKAggregator.knnJoin(spark, queries, embs, 7)
      .select($"query_id", $"doc_id", round($"score", 9).as("score"), $"rank")
      .collect().map(_.toSeq).toSeq
    val viaWin = eng.knnJoinWindow(queries, embs.withColumnRenamed("vec_id", "doc_id"), 7)
      .select($"query_id", $"doc_id", round($"score", 9).as("score"), $"rank".cast("long"))
      .orderBy($"query_id", $"rank")
      .collect().map(_.toSeq).toSeq
    assert(viaAgg == viaWin)
  }

  test("streaming KNN micro-batches equal the batch KNN join") {
    implicit val sq = spark.sqlContext
    val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = embs.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = eng.streamingKnn(
      mem.toDF().select($"_1".as("vec_id"), $"_2".cast("array<float>").as("embedding")),
      embs.withColumnRenamed("vec_id", "doc_id"), k = 7) { (df, _) =>
      results ++= df.orderBy($"query_id", $"rank").collect().map(_.toSeq)
    }
    try {
      mem.addData(queries)
      q.processAllAvailable()
    } finally q.stop()
    val batch = eng.knnJoinWindow(
      embs.filter($"vec_id" < 3), embs.withColumnRenamed("vec_id", "doc_id"), 7)
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    assert(results.toSeq === batch)
  }

  test("streaming KNN against the persisted IVF artifact equals the batch multi-probe") {
    implicit val sq = spark.sqlContext
    val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    graft.search.AnnIndex.saveIvf(
      graft.search.AnnIndex.buildIvf(embs, cells = 8), dir)
    val queries = embs.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = eng.streamingKnnVsIvf(
      mem.toDF().select($"_1".as("vec_id"), $"_2".cast("array<float>").as("embedding")),
      dir, k = 10, nProbe = 3) { (df, _) =>
      results ++= df.orderBy($"query_id", $"rank").collect().map(_.toSeq)
    }
    try {
      mem.addData(queries)
      q.processAllAvailable()
    } finally q.stop()
    val batch = graft.search.AnnIndex.probeIvfMulti(
        spark, dir, embs.filter($"vec_id" < 3), k = 10, nProbe = 3)
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    assert(results.toSeq === batch && batch.nonEmpty)
  }

  test("streaming KNN against the persisted IVF-PQ artifact equals the batch q151 probe") {
    implicit val sq = spark.sqlContext
    val eng = new graft.search.SearchEngine(spark)
    val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.size($"embedding") === 64)
    // the same session artifact q148/q151 probe
    val dir = graft.queries.AnnQueries.ivfPqIndexDir(spark, sf0001)
    val nProbe = graft.queries.AnnQueries.MultiProbeNProbe
    val shortlist = graft.queries.AnnQueries.IvfPqMultiShortlist
    val queries = embs.filter($"vec_id" < 3)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toSeq
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val results = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = eng.streamingKnnVsIvfPq(
      mem.toDF().select($"_1".as("vec_id"), $"_2".cast("array<float>").as("embedding")),
      dir, k = 10, nProbe = nProbe, shortlist = shortlist) { (df, _) =>
      results ++= df.orderBy($"query_id", $"rank").collect().map(_.toSeq)
    }
    try {
      mem.addData(queries)
      q.processAllAvailable()
    } finally q.stop()
    val batch = graft.search.AnnIndex.probeIvfPqMulti(
        spark, dir, embs.filter($"vec_id" < 3), k = 10,
        nProbe = nProbe, shortlist = shortlist)
      .orderBy($"query_id", $"rank").collect().map(_.toSeq).toSeq
    assert(results.toSeq === batch && batch.nonEmpty)
  }

  test("hybridSearch fuses vector and keyword arms and matches q35's shape") {
    val eng = new graft.search.SearchEngine(spark)
    val out = eng.hybridSearch(sf0001, graft.queries.AnnQueries.FlagshipPrompt, k = 10)
    val rows = out.collect()
    assert(rows.length === 10)
    // both arms contribute: some doc must carry a real keyword rank
    assert(rows.exists(_.getLong(2) > 0) && rows.exists(_.getLong(1) > 0))
    // fused scores are 1/(60+r) sums: max possible is 2/61
    assert(rows.forall(r => r.getDouble(3) > 0 && r.getDouble(3) <= 2.0 / 61.0 + 1e-9))
    // the engine API and the oracle-checked q35 pipeline agree end-to-end
    val q35 = graft.queries.KeywordQueries.queries("q35_hybrid_rrf")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(rows.map(_.toSeq).toSeq === q35)
  }

  test("native TypedImperativeAggregate top-k equals the typed Aggregator join") {
    val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = embs.filter($"vec_id" < 4)
    val viaAgg = TopKAggregator.knnJoin(spark, queries, embs, 6)
      .select($"query_id", $"doc_id", $"score", $"rank".cast("long"))
      .collect().map(_.toSeq).toSeq
    val viaNative = TopKAggregator.knnJoinNative(queries, embs, 6)
      .select($"query_id", $"doc_id", $"score", $"rank")
      .collect().map(_.toSeq).toSeq
    assert(viaNative === viaAgg)
  }

  test("native top-k is invariant to partitioning") {
    val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = embs.filter($"vec_id" < 2)
    def run(parts: Int) =
      TopKAggregator.knnJoinNative(queries, embs.repartition(parts), 5)
        .collect().map(_.toSeq).toSeq
    assert(run(1) === run(13))
  }

  test("TopKAggregator result is invariant to partitioning") {
    val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val queries = embs.filter($"vec_id" < 2)
    def run(parts: Int) =
      TopKAggregator.knnJoin(spark, queries, embs.repartition(parts), 5)
        .collect().map(_.toSeq).toSeq
    assert(run(1) == run(13))
  }

  test("rrfFuse handles one-armed hits: missing rank is -1, contribution 0") {
    import graft.operators.Bm25
    val a = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "rank")
    val out = Bm25.rrfFuse(a, b, rrfK = 60.0)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2, r._3)) === Seq((1L, 1L, -1L), (2L, 2L, 1L), (3L, -1L, 2L)))
    val fused = out.map(_._4)
    assert(math.abs(fused(0) - 1.0 / 61) < 1e-6)            // vector arm only
    assert(math.abs(fused(1) - (1.0 / 62 + 1.0 / 61)) < 1e-6) // both arms
    assert(math.abs(fused(2) - 1.0 / 62) < 1e-6)            // keyword arm only
  }

  test("kMinDistinct: dedup, bounded state, merge-order and partition invariance") {
    import spark.implicits._
    val agg = TopKAggregator.kMinDistinct[Long](4)(identity)
    // plain-Scala laws through the aggregator's own reduce/merge
    val a = Seq(9L, 3L, 3L, 7L).foldLeft(agg.zero)(agg.reduce)
    val b = Seq(3L, 1L, 12L, 1L, 5L).foldLeft(agg.zero)(agg.reduce)
    assert(a === List(3L, 7L, 9L))          // dedup inside one buffer
    assert(agg.merge(a, b) === List(1L, 3L, 5L, 7L))
    assert(agg.merge(a, b) === agg.merge(b, a)) // merge-order free
    assert(agg.merge(a, b).length <= 4)         // bounded state
    // distributed: the sketch equals the k smallest distinct values
    // regardless of partitioning
    val vals = (1L to 500L).map(i => (i * 37) % 101) // dense duplicates
    def run(parts: Int) = vals.toDF("v").repartition(parts)
      .as[Long].groupByKey(_ => 0).agg(agg.toColumn).collect().head._2
    val want = vals.distinct.sorted.take(4).toList
    assert(run(1) === want && run(13) === want)
  }
  test("searchIndexedBatch == per-prompt searchIndexed across the full lifecycle (delta, del+put, filter)") {
    import spark.implicits._
    import graft.search.{AnnIndex, HashingEmbedder}
    import graft.queries.AnnQueries
    val eng = new graft.search.SearchEngine(spark)
    val mainDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val deltaDir = java.nio.file.Files
      .createTempDirectory("graft_batch_spec").toString
    // lifecycle: ingest two docs, delete a corpus doc, correct one of
    // the ingests (del+put) — the batch path must apply every rule
    def emb(t: String) = new HashingEmbedder(64).embed(t).toSeq
    AnnIndex.appendDeltaBatch(spark, mainDir, deltaDir,
      Seq((940000001L, emb("batch spec alpha"), "batch spec alpha"),
        (940000002L, emb("batch spec beta"), "batch spec beta"))
        .toDF("vec_id", "embedding", "text"), 0L, compactEvery = 0)
    AnnIndex.appendTombstones(spark, deltaDir,
      Seq(3L, 940000002L).toDF("vec_id"), 1L, compactEvery = 0)
    AnnIndex.appendDeltaBatch(spark, mainDir, deltaDir,
      Seq((940000002L, emb("batch spec beta corrected"), "batch spec beta corrected"))
        .toDF("vec_id", "embedding", "text"), 2L, compactEvery = 0)
    val prompts = Seq(
      AnnQueries.ServedPrompt,
      "batch spec alpha",
      "batch spec beta corrected",
      "fast hash join on a big table")
    for (filter <- Seq(Nil, Seq("label" -> (AnnQueries.FilterLabel: Any)))) {
      val batch = eng.searchIndexedBatch(sf0001, prompts, k = 8,
        deltaDir = Some(deltaDir), filter = filter)
      val singles = prompts.map(p => eng.searchIndexed(sf0001, p, k = 8,
        deltaDir = Some(deltaDir), filter = filter)
        .as[graft.search.SearchHit].collect().toSeq)
      assert(batch === singles,
        s"batch and per-prompt answers must be identical (filter=$filter)")
    }
    // the unfiltered batch serves the lifecycle: alpha + corrected
    // beta in, deleted corpus doc out
    val unfiltered = eng.searchIndexedBatch(sf0001, prompts, k = 8,
      deltaDir = Some(deltaDir))
    assert(unfiltered(1).exists(_.doc_id === 940000001L))
    assert(unfiltered(2).exists(h => h.doc_id === 940000002L &&
      h.text === "batch spec beta corrected"))
    assert(!unfiltered.flatten.exists(_.doc_id === 3L))
    // argument guards stay loud on the batch face
    intercept[IllegalArgumentException] {
      eng.searchIndexedBatch(sf0001, Nil)
    }
    intercept[IllegalArgumentException] {
      eng.searchIndexedBatch(sf0001, Seq("x"), k = 0)
    }
  }

  test("foldIfTombstonesDue actuates the TombstoneFoldRows trigger against a serving root") {
    import spark.implicits._
    import graft.search.AnnIndex
    import graft.search.AnnIndex.ServingRoot
    import graft.queries.AnnQueries
    val mainDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val root = java.nio.file.Files
      .createTempDirectory("graft_folddue_spec").toString + "/r"
    ServingRoot.init(spark, mainDir, root)
    val (_, delta0) = ServingRoot.resolve(spark, root)
    // no tombstones: never due
    assert(AnnIndex.foldIfTombstonesDue(spark, root, 0L).isEmpty)
    AnnIndex.appendTombstones(spark, delta0,
      Seq(5L, 6L, 7L).toDF("vec_id"), 0L, compactEvery = 0)
    assert(AnnIndex.tombstoneRowCap(spark, delta0) === 3L)
    // under the trigger: counted, not folded
    assert(AnnIndex.foldIfTombstonesDue(spark, root, 10L).isEmpty)
    assert(ServingRoot.resolve(spark, root)._1.endsWith("epoch_0"))
    // over the trigger: the fold actuates and publishes epoch 1, the
    // tombstoned keys drop physically, the new delta starts empty
    assert(AnnIndex.foldIfTombstonesDue(spark, root, 2L) === Some(1L))
    val (idx1, delta1) = ServingRoot.resolve(spark, root)
    assert(idx1.endsWith("epoch_1"))
    assert(spark.read.parquet(s"$idx1/corpus")
      .filter($"vec_id".isin(5L, 6L, 7L)).count() === 0L)
    assert(AnnIndex.tombstoneRowCap(spark, delta1) === 0L)
    // post-fold the root is no longer due at the same trigger
    assert(AnnIndex.foldIfTombstonesDue(spark, root, 2L).isEmpty)
  }
  test("the refit gauge reads persisted epoch stats: actuation checks are O(delta)") {
    import spark.implicits._
    import graft.search.AnnIndex
    import graft.search.AnnIndex.ServingRoot
    import graft.queries.AnnQueries
    val mainDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val root = java.nio.file.Files
      .createTempDirectory("graft_stats_spec").toString + "/r"
    ServingRoot.init(spark, mainDir, root)
    val (idx0, delta0) = ServingRoot.resolve(spark, root)
    // the fold stamped the epoch's own mean distortion as metadata,
    // and it equals the statistic recomputed from the corpus
    val stat = AnnIndex.readEpochStats(spark, idx0)
    assert(stat.isDefined, "majorCompact must persist epoch stats")
    val recomputed = AnnIndex.meanDistortion(spark, idx0,
      spark.read.parquet(s"$idx0/corpus").select($"embedding"))
    assert(math.abs(stat.get - recomputed) <= 1e-9 * math.max(1.0, recomputed))
    // an in-distribution delta stays under the trigger through the
    // persisted denominator
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(size($"embedding") === 64)
    AnnIndex.appendDeltaBatch(spark, idx0, delta0,
      corpus.limit(5).select(($"vec_id" + 950000000L).as("vec_id"), $"embedding"),
      0L, compactEvery = 0)
    def actuate() = AnnIndex.refitIfDrifted(spark, root, AnnQueries.IvfCells,
      AnnQueries.IvfPqSubDim, AnnQueries.IvfPqK, AnnQueries.IvfPqIters,
      AnnQueries.RefitDriftMax)
    val (inRatio, inRefit) = actuate()
    assert(inRefit.isEmpty && inRatio <= AnnQueries.RefitDriftMax)
    // the stat file is LOAD-BEARING: plant a tiny denominator and the
    // same in-distribution delta must now trip — proof the gauge read
    // the metadata instead of re-scanning main
    Seq(stat.get * 1e-9).toDF("mean_distortion")
      .coalesce(1).write.mode("overwrite").parquet(s"$idx0/stats")
    val (plantedRatio, plantedRefit) = actuate()
    assert(plantedRatio > AnnQueries.RefitDriftMax,
      s"a planted tiny denominator must trip the gauge (ratio $plantedRatio)")
    assert(plantedRefit === Some(1L))
    // ...and the refit stamped the NEW epoch's stats in turn
    val (idx1, _) = ServingRoot.resolve(spark, root)
    assert(AnnIndex.readEpochStats(spark, idx1).isDefined,
      "refit must persist the fresh epoch's stats")
  }

  test("serving snapshot reuse changes no answer: warm == fresh engine == exact fallback across the root lifecycle") {
    import graft.search.{AnnIndex, HashingEmbedder}
    import graft.search.AnnIndex.ServingRoot
    import graft.queries.AnnQueries
    val mainDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val root = java.nio.file.Files
      .createTempDirectory("graft_snapshot_spec").toString + "/r"
    ServingRoot.init(spark, mainDir, root)
    val warm = new SearchEngine(spark)
    def emb(t: String) = new HashingEmbedder(64).embed(t).toSeq
    def put(rows: Seq[(Long, String)], b: Long): Unit = {
      val (idx, delta) = ServingRoot.resolve(spark, root)
      AnnIndex.appendDeltaBatch(spark, idx, delta,
        rows.map { case (i, t) => (i, emb(t), t, AnnQueries.FilterLabel) }
          .toDF("vec_id", "embedding", "text", "label"), b, compactEvery = 2)
    }
    def del(ids: Seq[Long], b: Long): Unit =
      AnnIndex.appendTombstones(spark, ServingRoot.resolve(spark, root)._2,
        ids.toDF("vec_id"), b, compactEvery = 2)
    val prompts = Seq(AnnQueries.ServedPrompt, "snapshot spec alpha",
      "snapshot spec gamma corrected")
    val filters = Seq(Nil, Seq("label" -> (AnnQueries.FilterLabel: Any)))
    val appId = spark.sparkContext.applicationId
    // the warm engine's first call of a step replaces the previous
    // step's snapshot (carrying over what the new listing still
    // names) and every later call reads it; the fresh engine answers
    // after the memo is dropped, from a snapshot resolved cold
    def check(step: String): Unit = for (filter <- filters) {
      val w = prompts.map(p => warm.searchJsonRoot(sf0001, root, p, 8, filter))
      val wb = warm.searchJsonBatchRoot(sf0001, root, prompts, 8, filter)
      val stores = SearchEngine.snapshots.entryCount(appId)
      SearchEngine.snapshots.evict(appId)
      val fresh = new SearchEngine(spark)
      def exact(p: String) =
        fresh.exactRootHits(sf0001, root, fresh.embedder.embed(p), 8, filter)
      for ((p, wp) <- prompts.zip(w)) {
        assert(wp === fresh.searchJsonRoot(sf0001, root, p, 8, filter),
          s"$step: warm != fresh engine for '$p' (filter=$filter)")
        assert(wp === fresh.renderHits(exact(p)),
          s"$step: warm != exact fallback for '$p' (filter=$filter)")
      }
      assert(wb === fresh.searchJsonBatchRoot(sf0001, root, prompts, 8, filter),
        s"$step: warm batch != fresh engine batch (filter=$filter)")
      assert(wb === fresh.renderBatch(prompts.map(p => exact(p).toSeq)),
        s"$step: warm batch != exact fallback (filter=$filter)")
      assert(SearchEngine.snapshots.entryCount(appId) === 1,
        s"$step: one snapshot per served root ($stores before the drop)")
    }
    check("epoch 0, empty delta")
    put(Seq(960000001L -> "snapshot spec alpha", 960000002L -> "snapshot spec beta",
      960000003L -> "snapshot spec gamma draft"), 0L)
    check("put")
    del(Seq(5L, 960000002L), 1L)
    check("delete (corpus doc + ingested doc)")
    del(Seq(960000003L), 2L)
    put(Seq(960000003L -> "snapshot spec gamma corrected"), 2L)
    check("del+put correction")
    put(Seq(960000004L -> "snapshot spec delta fold"), 3L)
    check("minor compaction")
    assert(new java.io.File(ServingRoot.resolve(spark, root)._2 + "/manifest_g0").exists,
      "batch 3 must have compacted the delta")
    assert(AnnIndex.majorFoldPublish(spark, root) === 1L)
    check("majorFoldPublish epoch swap")
    val served = warm.searchJsonRoot(sf0001, root, "snapshot spec gamma corrected", 8)
    assert(served.contains("\"doc_id\":960000003,\"text\":\"snapshot spec gamma corrected\""),
      s"the corrected ingest must serve from the folded epoch: $served")
    assert(!served.contains("\"doc_id\":960000002,"), served)
  }

  test("serving snapshots stay bounded across ingests; the exact fallback never needs them") {
    import graft.search.{AnnIndex, HashingEmbedder}
    import graft.search.AnnIndex.ServingRoot
    import graft.queries.AnnQueries
    val mainDir = AnnQueries.ivfPqIndexDir(spark, sf0001)
    val root = java.nio.file.Files
      .createTempDirectory("graft_snapshot_bound_spec").toString + "/r"
    ServingRoot.init(spark, mainDir, root)
    val (idx, delta) = ServingRoot.resolve(spark, root)
    val eng = new SearchEngine(spark)
    def emb(t: String) = new HashingEmbedder(64).embed(t).toSeq
    def put(rows: Seq[(Long, String)], b: Long): Unit =
      AnnIndex.appendDeltaBatch(spark, idx, delta,
        rows.map { case (i, t) => (i, emb(t), t) }.toDF("vec_id", "embedding", "text"),
        b, compactEvery = 2)
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // RDDs persisted by anything else in this JVM are left out of the
    // count (only ids that appear after this point are the engine's)
    val others = persisted()
    val appId = spark.sparkContext.applicationId
    val prompt = "snapshot bound spec doc 3"
    var afterFirst = -1
    var stores = -1
    for (b <- 0L until 10L) {
      put((0 until 20).map(i => (970000000L + b * 100 + i, s"snapshot bound spec doc $i batch $b")), b)
      // every other ingest is put-only: its snapshot carries the
      // tombstone ids over, and they must stay cached
      if (b % 2 == 0L)
        AnnIndex.appendTombstones(spark, delta,
          Seq(970000000L + b * 100, b + 20L).toDF("vec_id"), b, compactEvery = 2)
      eng.searchJsonRoot(sf0001, root, prompt, 10)
      eng.searchJsonBatchRoot(sf0001, root, Seq(prompt, AnnQueries.ServedPrompt), 10)
      val snap = SearchEngine.snapshots.current(appId, root).get
      for ((what, frame) <- Seq("tombstone ids" -> snap.tombstoneIds,
                                "live delta" -> snap.liveDelta))
        assert(frame.get.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
          s"ingest $b: the snapshot's $what must be cached")
      val own = (persisted() -- others).size
      if (b == 0L) { afterFirst = own; stores = SearchEngine.snapshots.entryCount(appId) }
      assert(own === afterFirst,
        s"ingest $b: the engine's persisted RDDs must not grow ($own vs $afterFirst)")
      assert(SearchEngine.snapshots.entryCount(appId) === stores,
        s"ingest $b: one snapshot per served root")
    }
    assert(afterFirst > 0, "a served delta with tombstones must hold cached frames")
    // a forced index-route failure with the snapshot warm: bare re-puts
    // of LIVE corpus ids whose text IS the prompt outrank every other
    // delta row, so each collision pass finds only canonical ids and
    // the route fails loudly past MaxCollisionPasses. Corpus ids stay
    // canonical on a bare put, so the exact answer is unchanged.
    val warmAnswer = eng.searchJsonRoot(sf0001, root, prompt, 10)
    val live = spark.read.parquet(s"$idx/corpus").select($"vec_id").as[Long]
      .collect().filter(_ >= 30L).sorted.take(100)
    put(live.map(i => (i, prompt)).toSeq, 10L)
    val before = eng.indexFallbackCount.get
    assert(eng.searchJsonRoot(sf0001, root, prompt, 10) === warmAnswer,
      "the exact fallback must serve the unchanged live answer")
    assert(eng.indexFallbackCount.get === before + 1,
      "the collision storm must fail the index route, counted")
  }

  test("a main-chain failure beside a live delta chain degrades once to the exact answer") {
    import graft.search.{AnnIndex, HashingEmbedder}
    import org.apache.hadoop.fs.{FileUtil, Path}
    // a private copy of the fixture, so its session artifact is this
    // test's own and deleting its files disturbs no other test
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = java.nio.file.Files.createTempDirectory("graft_fork_fail_spec").toString
    val sf = s"$tmp/sf"
    for (t <- Seq("documents", "embeddings"))
      FileUtil.copy(fs, new Path(s"$sf0001/$t.parquet"), fs, new Path(s"$sf/$t.parquet"),
        false, spark.sparkContext.hadoopConfiguration)
    val eng = new SearchEngine(spark)
    val main = eng.indexDir(sf)
    val deltaDir = s"$tmp/delta"
    val prompt = "forked chain failure spec fresh document"
    AnnIndex.appendDeltaBatch(spark, main, deltaDir,
      Seq((980000001L, new HashingEmbedder(64).embed(prompt).toSeq, prompt))
        .toDF("vec_id", "embedding", "text"), 0L, compactEvery = 2)
    // a first call resolves the snapshot: its artifact relation now
    // lists cell files that the next probe will not find
    eng.searchJsonIndexed(sf, prompt, 10, Some(deltaDir))
    val cells = fs.listFiles(new Path(s"$main/corpus"), true)
    while (cells.hasNext) {
      val f = cells.next().getPath
      if (f.getName.endsWith(".parquet")) fs.delete(f, false)
    }
    // the exact route reads the documents, embeddings and delta only
    val exact = eng.searchJson(sf, prompt, 10, Some(deltaDir))
    assert(exact.contains("\"doc_id\":980000001,"), exact)
    val before = eng.indexFallbackCount.get
    assert(eng.searchJsonIndexed(sf, prompt, 10, Some(deltaDir)) === exact,
      "the degraded call must serve the exact answer, delta hit included")
    assert(eng.indexFallbackCount.get === before + 1,
      "one degraded call counts one fallback")
  }

  test("a served call's forked main chain runs under the caller's job group; no execution id leaks into the serve thread") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SQLExecution
    import graft.search.{AnnIndex, HashingEmbedder}
    import graft.search.AnnIndex.ServingRoot
    import graft.queries.AnnQueries
    val root = java.nio.file.Files
      .createTempDirectory("graft_fork_props_spec").toString + "/r"
    ServingRoot.init(spark, AnnQueries.ivfPqIndexDir(spark, sf0001), root)
    val (idx, delta) = ServingRoot.resolve(spark, root)
    val prompt = "forked chain job group spec"
    AnnIndex.appendDeltaBatch(spark, idx, delta,
      Seq((980000101L, new HashingEmbedder(64).embed(prompt).toSeq, prompt))
        .toDF("vec_id", "embedding", "text"), 0L, compactEvery = 2)
    val eng = new SearchEngine(spark)
    val prompts = Seq(prompt, AnnQueries.ServedPrompt)
    eng.searchJsonBatchRoot(sf0001, root, prompts, 10) // resolves the snapshot
    val sc = spark.sparkContext
    val group = "graft-fork-props-spec"
    // every job started while `serve` runs, as its local properties
    def jobsOf(serve: => Unit): Seq[java.util.Properties] = {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.properties)
      }
      org.apache.spark.GraftListenerBridge.drainListenerBus(sc)
      sc.addSparkListener(l)
      try {
        sc.setJobGroup(group, "served call under a job group")
        try serve finally sc.clearJobGroup()
        org.apache.spark.GraftListenerBridge.drainListenerBus(sc)
      } finally sc.removeSparkListener(l)
      jobs.asScala.toSeq
    }
    for ((face, serve) <- Seq[(String, () => Unit)](
        "single" -> (() => eng.searchJsonRoot(sf0001, root, prompt, 10)),
        "batch" -> (() => eng.searchJsonBatchRoot(sf0001, root, prompts, 10)));
         round <- 1 to 2) {
      val before = eng.indexFallbackCount.get
      val jobs = jobsOf(serve())
      assert(eng.indexFallbackCount.get === before, s"$face: the index route must serve")
      val execs = jobs.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).toSet
      // probe + main payload on the forked chain, delta top-k +
      // collision check on the calling one
      assert(execs.size >= 4, s"$face $round: both chains' executions expected, got $execs")
      jobs.foreach { p =>
        assert(p.getProperty("spark.jobGroup.id") === group,
          s"$face $round: a job ran outside the caller's job group: $p")
        assert(p.getProperty(SQLExecution.EXECUTION_ROOT_ID_KEY) ===
          p.getProperty(SQLExecution.EXECUTION_ID_KEY),
          s"$face $round: an execution nested under a leaked execution id: $p")
      }
      val poolExec = SearchEngine.serveThread.submit(new java.util.concurrent.Callable[String] {
        def call(): String = sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)
      }).get()
      assert(poolExec === null, s"$face $round: the serve thread kept execution id $poolExec")
    }
  }
}
