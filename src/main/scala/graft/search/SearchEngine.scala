package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.VectorFunctions._

/** One search hit — the reference's result row shape
  * `(name, description, score)` (reference server.py:89-90), generalized
  * to the fixture corpus's `(doc_id, text, score)`. */
case class SearchHit(doc_id: Long, text: String, score: Double)

object SearchEngine {
  /** Ceiling on a served request's `k`. The served path's payload
    * fetch pushes the hit ids down as an In filter and merges ≤ k rows
    * on the driver — both O(k) by design; the cap turns a hostile or
    * buggy k into a loud argument error instead of a giant literal
    * list (the reference's tool hard-codes k=10, server.py:87). */
  val MaxServedK = 1000

  /** Ceiling on a batched request's prompt count. The batch path's
    * driver merge and payload fetch are O(prompts·k); the cap keeps a
    * hostile batch from turning them into an unbounded literal list
    * and driver row set, the same argument as [[MaxServedK]]. */
  val MaxBatchPrompts = 256

  /** Ceiling on collision-exclusion passes in the served delta top-k
    * (each pass excludes ≥ 1 corpus-colliding id and rescans the small
    * delta; more than a handful means the delta is nearly all
    * re-ingests of corpus ids — fail loudly, the service entry point
    * degrades to the exact scan). */
  val MaxCollisionPasses = 8

  /** `c IN ids` over a bigint id column as an `InSet`, however few the
    * ids. `isin` plans a list at or below
    * `spark.sql.optimizer.inSetConversionThreshold` (10) as an `In`
    * whose generated code inlines each id as a branch, so every served
    * call with different hits compiles fresh classes; an `InSet`'s
    * generated code holds the set as a reference object and compiles
    * once. It still pushes into the parquet scan as `In`. An empty
    * list keeps `isin()`'s semantics (false, null on a null id). */
  private[graft] def idIn(c: Column, ids: Iterable[Long]): Column =
    if (ids.isEmpty) c.isin()
    else org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.GraftBridge.expression(c), ids.toSet[Any]))

  /** The most tombstone rows a serving snapshot holds driver-side as
    * a scan filter ([[ServingSnapshot.liveProbe]]); past it the probes
    * anti-join the distinct ids as a frame, broadcast under
    * [[AnnIndex.TombstoneBroadcastMaxBytes]]. A held id costs every
    * probe plan one element of its `INSET` (analysed, planned, printed
    * and shipped in each task's closure), where a frame costs one
    * broadcast job. MEASURED (`bench/ab_one_pass_probe/
    * served_tombstone_probe.txt`, ScaleProbe --served-tombstone-probe
    * on the 200 k-vector clone, scattered ids, warm `searchJsonRoot`):
    * held and anti-joined singles tie at 1,000–2,000 ids (0.7–1.0 s
    * each), held ids run 0.2–0.6 s slower at 10^4, 4.7–5.4 s at 10^5
    * and 70 s at 10^6, where the anti-join stays at 0.6 s and 1.3–1.7
    * s. The ceiling sits in the tie region: below it the held filter
    * saves a served store's common case — a few deletes between
    * folds — one job and an adaptive re-plan per probe. */
  val HeldTombstoneMaxRows = 2000

  /** `filter` as one conjunctive equality predicate (lit(true) when
    * empty — folds away at optimization). */
  private[search] def filterPredicate(filter: Seq[(String, Any)]): Column =
    filter.map { case (c, v) => col(c) === lit(v) }
      .foldLeft(lit(true))(_ && _)

  /** One SERVING SNAPSHOT: what a served request reads that is a pure
    * function of the committed segment set, built once per set and
    * reused by every request while the set is unchanged
    * ([[SearchEngine.snapshot]]):
    *
    *  - `relations`: the parquet relations of the documents table, the
    *    served artifact's `corpus` and every delta and tombstone
    *    segment, by path (building a relation lists its files and
    *    reads a footer — Spark jobs outside any query);
    *  - `tombstones`: how a probe excludes the tombstoned ids, None
    *    when there are none: `Left` — the ids collected driver-side
    *    once per tombstone listing, while the store holds at most
    *    [[HeldTombstoneMaxRows]] rows ([[liveProbe]] folds them into the
    *    scan predicate); `Right` — past that, the distinct ids as a
    *    frame under [[AnnIndex.tombstoneHint]]'s size-gated hint, for
    *    the probe's anti-join;
    *  - `liveDelta`: the delta's live rows after latest-batch-wins and
    *    tombstone shadowing, every segment column kept so any
    *    request's metadata filter applies on top ([[delta]]).
    *
    * The derived frames are lazily `persist`ed: the first request
    * that reads one materializes it inside its own query (no extra
    * job), and a lost block recomputes from the lineage — the segment
    * dirs are immutable — where a `localCheckpoint` block would fail
    * the query. Sound because committed segment dirs never change
    * content ([[AnnIndex.appendDeltaBatch]]): the paths name the
    * data. */
  private[graft] final class ServingSnapshot(
      val relations: Map[String, DataFrame],
      val segPaths: Seq[String],
      val tombPaths: Seq[String],
      val documents: DataFrame,
      val artifact: DataFrame,
      val deltaColumns: Set[String],
      val liveDelta: Option[DataFrame],
      val tombstones: Option[Either[Set[Long], DataFrame]]) {

    /** The live delta under `filter` — `deltaSegsLww`'s rule: None
      * when no segment carries every filtered column, else the filter
      * applies per row after latest-wins (a row of a segment lacking
      * the column is null there and never matches). */
    def delta(filter: Seq[(String, Any)]): Option[DataFrame] =
      liveDelta
        .filter(_ => filter.forall { case (c, _) => deltaColumns.contains(c) })
        .map(d => if (filter.isEmpty) d else d.filter(filterPredicate(filter)))

    /** A probe's tombstone exclusion, as (scan predicate, frame to
      * anti-join): held ids fold into `predicate` as
      * `!vec_id IN ids` — an InSet filter ([[SearchEngine.idIn]]) in the
      * scan's stage, with no join, no exchange and no job; a frame goes
      * to the probe's anti-join. */
    def liveProbe(predicate: Column): (Column, Option[DataFrame]) = tombstones match {
      case Some(Left(ids)) => (predicate && !SearchEngine.idIn(col("vec_id"), ids), None)
      case other => (predicate, other.flatMap(_.toOption))
    }

    /** The tombstoned ids among the bounded candidate list `ids`: a
      * lookup in the held set, else an In-filtered read of the frame. */
    def deletedAmong(ids: Seq[Long]): Set[Long] = tombstones match {
      case None => Set.empty
      case Some(Left(held)) => ids.filter(held).toSet
      case Some(Right(t)) =>
        t.filter(SearchEngine.idIn(col("vec_id"), ids)).collect().map(_.getLong(0)).toSet
    }

    /** Unpersist the derived frames `next` does not carry over. A
      * carried frame must stay cached: Spark's cache matches plans,
      * not objects, so unpersisting it would drop `next`'s entry. */
    def releaseAgainst(next: ServingSnapshot): Unit = {
      def drop(mine: Option[DataFrame], theirs: Option[DataFrame]): Unit =
        mine.filterNot(d => theirs.exists(_ eq d)).foreach(_.unpersist(blocking = false))
      drop(liveDelta, next.liveDelta)
      drop(tombstones.flatMap(_.toOption), next.tombstones.flatMap(_.toOption))
    }
  }

  /** Serving snapshots, ONE entry per served store per application
    * ([[graft.ListingMemo]]), replaced when the store's listing
    * changes. Module-scoped like every graft memo, because the cached
    * frames live in the application's cache, not in an engine: every
    * engine serving a store reads one snapshot, and a dropped engine
    * strands nothing. */
  private[graft] val snapshots =
    new graft.ListingMemo[ServingSnapshot](_.releaseAgainst(_))

  /** The thread every served call's MAIN chain runs on ([[overlapped]]):
    * one daemon thread per JVM, created without inheriting the creating
    * caller's thread-locals (each task gets its own caller's, captured
    * at submit). */
  private[graft] lazy val serveThread =
    java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(null, r, "graft-serve", 0L, false); t.setDaemon(true); t
    }

  /** `main` on [[serveThread]] while `delta` runs on the calling thread
    * — a served call's two independent chains, joined before the
    * driver merge. The fork goes through Spark's own
    * `SQLExecution.withThreadLocalCaptured` (the broadcast-exchange
    * helper), so `main` runs under the caller's active session and
    * local properties (job group, scheduler pool). A failure surfaces
    * as its own throwable (main's first), so the callers' `NonFatal`
    * boundaries classify it exactly as on one thread, and only after
    * BOTH sides are done: a degraded call never runs its exact
    * fallback beside Spark work of the failed attempt. A fatal
    * throwable on the calling thread (an interrupt) propagates at
    * once. */
  private def overlapped[A, B](spark: SparkSession)(main: => A)(delta: => B): (A, B) = {
    val forked = org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], serveThread)(main)
    val d = scala.util.Try(delta)
    val m =
      try scala.util.Success(forked.get())
      catch { case e: java.util.concurrent.ExecutionException => scala.util.Failure(e.getCause) }
    (m.get, d.get)
  }
}

/** Semantic top-k vector search over a document corpus — the Spark-native
  * rendition of the reference's single tool
  * `vector_search_neo4j(prompt)` (reference server.py:71-102):
  * prompt → embedding → cosine top-k over the corpus → project
  * `(id, payload, score)` → sort desc.
  *
  * Architecture (SURVEY.md §3 E1): where the reference hops
  * MCP→OpenAI→Neo4j-HNSW, this engine embeds driver-side (one row) and
  * declares a DataFrame plan `score → orderBy(desc).limit(k)` that
  * Catalyst compiles to Parquet vectorized scan → whole-stage-codegen'd
  * projection → `TakeOrderedAndProject` (per-partition top-k heaps, O(k)
  * merged on the driver — no full sort, no shuffle of the corpus). That
  * shape is scale-correct at 100 TB: each of N partitions contributes at
  * most k candidate rows to the driver merge.
  */
final class SearchEngine(
    val spark: SparkSession,
    val embedder: Embedder = new HashingEmbedder(64)) {

  import spark.implicits._
  import SearchEngine.{ServingSnapshot, filterPredicate, snapshots}

  /** Load the searchable corpus: embeddings joined to document payloads
    * (FIXTURES.md: `embeddings.vec_id` ↔ `documents.doc_id`). The dim
    * guard mirrors reference server.py:80-84 (SURVEY.md §2.1 O3). */
  def corpus(sfDir: String, dim: Int = 64): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(hasDim(col("embedding"), dim))
    // embeddings is the small side at fixture scale, but at 100 TB both
    // sides are large and share the id domain: an equi-join on the key,
    // which AQE plans as broadcast when one side is small enough.
    embs.join(docs, embs("vec_id") === docs("doc_id"))
  }

  /** Exact brute-force top-k by cosine against one query vector.
    * Score uses the Neo4j convention `(1+cos)/2` (SURVEY.md §2.1 O5) so
    * results are comparable with what the reference's stack emits,
    * rounded to 6 dp BEFORE ranking (the engine-wide determinism
    * convention — and what makes the exact and index-served routes
    * emit identical JSON for identical hits).
    * Deterministic total order: score desc, then doc_id asc. */
  def topK(corpus: DataFrame, queryVec: Array[Float], k: Int = 10): Dataset[SearchHit] = {
    require(queryVec != null, "query vector must not be null")
    val q = typedLit(queryVec.toSeq)
    corpus
      .withColumn("score", round(neo4jScore(col("embedding"), q), 6))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
      .select($"doc_id", $"text", $"score")
      .as[SearchHit]
  }

  /** The reference's end-to-end tool path: natural-language prompt →
    * embed → top-k (k=10 is the reference's hard-coded fan-out,
    * server.py:87). With `deltaDir`, the exact scan covers corpus ∪
    * the LSM delta's rows — the EXACT route serves streamed-in
    * documents too, which is what lets [[searchJsonIndexed]]'s
    * fallback stay "slower, never wronger" when a delta is in play.
    * `filter` is the service-surface metadata filter (see
    * [[searchIndexed]] for the semantics both routes share). */
  def search(sfDir: String, prompt: String, k: Int = 10,
             deltaDir: Option[String] = None,
             filter: Seq[(String, Any)] = Nil): Dataset[SearchHit] =
    topK(corpusWithDelta(sfDir, deltaDir, embedder.dim, filter),
      embedder.embed(prompt), k)

  /** The CANONICAL id set an id-colliding bare delta put must not
    * shadow: on the session route the filtered live corpus; under a
    * serving root (`root`) the epoch ARTIFACT's own rows — a
    * document folded in from a past ingest is corpus-canonical once
    * an epoch publishes it, so correcting it still takes del + put.
    * The artifact is ONE frame under the per-frame filter rule
    * ([[exactRootHits]]' `filter(lit(false))`, corpusWithDelta's
    * per-side rule): a frame lacking ANY filtered column contributes
    * nothing — so an artifact without the filtered columns blocks no
    * delta row (the session rule exactly: canonical ids OUTSIDE the
    * filter don't block a matching delta row). */
  private def canonicalIds(sfDir: String, snap: ServingSnapshot, root: Boolean,
                           filter: Seq[(String, Any)]): DataFrame =
    if (!root) {
      val c = corpus(sfDir, embedder.dim)
      (if (filter.isEmpty) c else c.filter(filterPredicate(filter)))
        .select($"doc_id")
    } else {
      val art = snap.artifact
      val present = filter.filter { case (c, _) => art.columns.contains(c) }
      val kept =
        if (filter.isEmpty) art
        else if (present.size < filter.size) art.filter(lit(false))
        else art.filter(filterPredicate(present))
      kept.select(col("vec_id").as("doc_id"))
    }

  /** The payload reads for MAIN-side hit ids (≤ k — every lookup
    * reaches parquet as a pushed In filter) as (doc_id, text, _src)
    * frames, where the lower `_src` wins an id both sources know. On
    * the session route every main hit is a corpus document. Under a
    * serving root (`root`) the epoch corpus may CARRY text for rows
    * folded in from past ingests (the documents table never had them)
    * — those ids read their payload from the artifact itself, and
    * where both sources know an id the artifact wins: its row is the
    * NEWER version by the fold's latest-op-wins construction (a del+put
    * correction folded over a provisioned document must serve the
    * corrected text). */
  private def mainSources(snap: ServingSnapshot, root: Boolean,
                          ids: Seq[Long]): Seq[DataFrame] = {
    val art = snap.artifact
    snap.documents
      .filter(SearchEngine.idIn(col("doc_id"), ids))
      .select($"doc_id", $"text", lit(2).as("_src")) +:
    Seq(art).filter(_ => root && art.columns.contains("text")).map(_
      .filter(col("text").isNotNull && SearchEngine.idIn(col("vec_id"), ids))
      .select(col("vec_id").as("doc_id"), $"text", lit(1).as("_src")))
  }

  /** [[mainSources]] as one (doc_id, text) frame for the DataFrame
    * face: the ids the artifact serves are collected (a ≤ k-id point
    * lookup) and the documents read skips them. */
  private def mainPayload(snap: ServingSnapshot, root: Boolean,
                          ids: Seq[Long]): DataFrame =
    (mainSources(snap, root, ids) match {
      case Seq(docs, art) if ids.nonEmpty =>
        val artIds = art.select($"doc_id").collect().map(_.getLong(0))
        if (artIds.isEmpty) docs
        else docs.filter(!SearchEngine.idIn(col("doc_id"), artIds))
          .unionByName(art)
      case sources => sources.head
    }).drop("_src")

  /** The main hits' payloads as a driver-side map — [[mainSources]]'
    * rule in ONE collect of ≤ k In-filtered point lookups, the
    * collecting routes' main-chain tail: a plan-side join of the ≤ k
    * hits would add a broadcast and a range-partitioned sort for a
    * handful of rows. (Delta hits carry their own text from the delta
    * top-k.) */
  private def textOf(snap: ServingSnapshot, root: Boolean,
                     mainIds: Seq[Long]): Map[Long, String] =
    if (mainIds.isEmpty) Map.empty
    else mainSources(snap, root, mainIds).reduce(_.unionByName(_)).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.minBy(_.getInt(2)).getString(1) }

  /** The searchable rows: live corpus ∪ (when a delta is named) the
    * delta's LIVE (doc_id, text, embedding) rows, under the engine's
    * latest-op-wins lifecycle semantics:
    *
    *  - the provisioned corpus counts as an implicit put OLDER than
    *    every delta operation, so ANY tombstone for a corpus id
    *    unserves that document (takedown/GDPR — the main files are
    *    immutable between rebuilds; the marker is the delete);
    *  - a delta put serves iff no NEWER tombstone shadows it
    *    (put wins a same-batch tie — del+put in one batch is a
    *    replace), and id twins across delta batches resolve
    *    latest-batch-wins ([[graft.sources.SegmentStore.BatchCol]],
    *    the store's own fold rule applied to the unfolded tail);
    *  - a bare put colliding with a LIVE corpus id stays
    *    corpus-canonical (an accidental id reuse must not overwrite
    *    the stored document — correction is expressed as del + put);
    *  - a metadata `filter` applies to each side over the columns its
    *    rows CARRY: the corpus side filters before scoring (pushdown);
    *    a delta whose segment rows lack a filtered column contributes
    *    nothing under that filter (an ingested doc with no label
    *    cannot match `label = 2` — excluded, not errored), the same
    *    rule on both routes. */
  private def corpusWithDelta(sfDir: String, deltaDir: Option[String],
                              dim: Int,
                              filter: Seq[(String, Any)] = Nil): DataFrame = {
    val base = {
      val c = corpus(sfDir, dim)
      if (filter.isEmpty) c else c.filter(filterPredicate(filter))
    }
    val dels = deltaDir.flatMap(d => graft.search.AnnIndex.tombstones(spark, d))
    // size-guarded hint: broadcast small tombstone sets, let the
    // planner shuffle past the ceiling (AnnIndex.tombstoneHint)
    val hint: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      if (dels.isEmpty) identity
      else graft.search.AnnIndex.tombstoneHint(spark, deltaDir.get)
    val baseLive = dels match {
      case None => base
      case Some(d) => base.join(
        hint(d.select(col("vec_id").as("doc_id"))), Seq("doc_id"), "left_anti")
    }
    deltaSegsLww(deltaDir, dels, filter, hint) match {
      case None => baseLive
      case Some(delta) =>
        val baseRows = baseLive.select($"doc_id", $"text", $"embedding")
        baseRows.unionByName(
          delta.select($"doc_id", $"text", $"embedding")
            .join(baseRows.select($"doc_id"), Seq("doc_id"), "left_anti"))
    }
  }

  /** The delta's LIVE rows under `filter` as one id-unique (doc_id,
    * text, embedding, batch) frame, resolved fresh from the store
    * (the exact fallback's read — it never consults a serving
    * snapshot). None when no delta is named, the delta is empty, or
    * NO segment carries a filtered column (then no delta row can
    * match — the schema rule corpusWithDelta documents). A
    * MIXED-schema delta (a filtered column present in some segments
    * only — e.g. labels added to ingests after the first batches)
    * unions with nulls where absent, and the equality predicate
    * excludes the null rows per ROW: rows that do carry and match the
    * column still serve — dropping the whole delta on one
    * schema-lagging segment would be a recall miss. */
  private def deltaSegsLww(deltaDir: Option[String],
                           dels: Option[DataFrame],
                           filter: Seq[(String, Any)],
                           hint: DataFrame => DataFrame): Option[DataFrame] = {
    val segs = deltaDir.map(deltaSegs).getOrElse(Nil)
    if (segs.isEmpty ||
        !filter.forall { case (c, _) => segs.exists(_.columns.contains(c)) })
      None
    else {
      // filter columns (if any) ride the resolution and the filter
      // applies AFTER latest-wins — a stale matching version must not
      // shadow the current non-matching one
      val carry = filter.map(_._1).distinct
      val live = lwwLive(segs, carry, dels, hint)
      Some(if (filter.isEmpty) live
        else live.filter(filterPredicate(filter)).drop(carryable(carry): _*))
    }
  }

  /** The columns of `cols` a live-delta frame carries beyond its fixed
    * (doc_id, text, embedding, batch) shape. */
  private def carryable(cols: Seq[String]): Seq[String] =
    cols.filterNot(Set("doc_id", "text", "embedding",
      graft.sources.SegmentStore.BatchCol))

  /** THE live-delta rule, shared by the serving snapshot and the exact
    * fallback: the segments' rows as (doc_id, text, embedding, batch)
    * plus the `carry` columns they have (null where a segment lacks
    * one), id twins resolved latest-batch-wins, rows at or below a
    * newer tombstone (`lastDel`: vec_id, del_batch) dropped — put wins
    * a same-batch tie. */
  private def lwwLive(segs: Seq[DataFrame], carry: Seq[String],
                      lastDel: Option[DataFrame],
                      hint: DataFrame => DataFrame): DataFrame = {
    val batchCol = graft.sources.SegmentStore.BatchCol
    val w = Window.partitionBy(col("doc_id")).orderBy(col(batchCol).desc)
    val lww = segs
      .map { seg =>
        val present = carryable(carry).filter(seg.columns.contains)
        seg.select(Seq(col("vec_id").as("doc_id"), col("text"),
          col("embedding"), col(batchCol)) ++ present.map(col): _*)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .withColumn("_lww_rn", row_number().over(w))
      .filter(col("_lww_rn") === 1)
      .drop("_lww_rn")
    lastDel match {
      case None => lww
      case Some(d) => lww
        .join(hint(d.select(col("vec_id").as("doc_id"), col("del_batch"))),
          Seq("doc_id"), "left")
        .filter(col("del_batch").isNull || col(batchCol) >= col("del_batch"))
        .drop("del_batch")
    }
  }

  /** The delta's CURRENT segment set as DataFrames — resolved ONCE per
    * call, so a probe and its payload fetch read the same snapshot
    * even if a compaction publishes a new manifest mid-query
    * (immutable dirs + grace GC keep the resolved set on disk). */
  private def deltaSegs(deltaDir: String): Seq[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    graft.sources.SegmentStore.segments(fs, deltaDir)
      .map(spark.read.parquet(_))
  }

  /** The serving snapshot of (documents, artifact `main`, delta),
    * resolved from filesystem metadata alone: the key is the FULL
    * listing — documents table, artifact, every committed delta and
    * tombstone segment path — so an ingest, a compaction or an epoch
    * swap each resolve a fresh snapshot. The store is the serving
    * root for an epoch artifact (`root` — an epoch swap replaces the
    * root's one entry) and the (corpus, delta) pair otherwise. A new
    * snapshot carries over from its predecessor the relations of
    * paths still listed, the tombstone exclusion while the tombstone
    * listing is unchanged, and the live delta while the delta and
    * tombstone listings both are. */
  private def snapshot(sfDir: String, main: String, deltaDir: Option[String],
                       root: Boolean): ServingSnapshot = {
    import graft.sources.SegmentStore
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val docsPath = s"$sfDir/documents.parquet"
    val artPath = s"$main/corpus"
    val segs = deltaDir.map(SegmentStore.segments(fs, _)).getOrElse(Nil)
    val tombs = deltaDir.map(d => SegmentStore.segments(fs, s"$d/tombstones"))
      .getOrElse(Nil)
    val store =
      if (root) new org.apache.hadoop.fs.Path(main).getParent.toString
      else s"$sfDir|${deltaDir.getOrElse("")}"
    val listing = s"$docsPath|$artPath|delta=${segs.mkString(",")}" +
      s"|tombstones=${tombs.mkString(",")}"
    snapshots.getOrReplace(spark, store, listing) { prev =>
      val relations = (Seq(docsPath, artPath) ++ segs ++ tombs).map { p =>
        p -> prev.flatMap(_.relations.get(p)).getOrElse(spark.read.parquet(p))
      }.toMap
      val segFrames = segs.map(relations)
      val deltaColumns = segFrames.flatMap(_.columns).toSet
      val sameTombs = prev.filter(_.tombPaths == tombs)
      val tombRows =
        if (tombs.isEmpty) None
        else Some(tombs.map(relations).reduce(_.unionByName(_)))
      // read only when a frame is built: the listing's raw bytes
      lazy val hint = AnnIndex.tombstoneHint(fs, tombs)
      val tombstones = sameTombs match {
        case Some(p) => p.tombstones
        case None => tombRows.map { rows =>
          // one single-task job per tombstone listing that stops one
          // row past the ceiling (a limit over several partitions would
          // scan them in growing jobs); the set dedups repeated ids
          val ids = rows.select(col("vec_id"))
          val head = ids.coalesce(1).limit(SearchEngine.HeldTombstoneMaxRows + 1).collect()
          if (head.length <= SearchEngine.HeldTombstoneMaxRows) Left(head.map(_.getLong(0)).toSet)
          else Right(hint(ids.distinct()).persist())
        }
      }
      val live = sameTombs.filter(_.segPaths == segs) match {
        case Some(p) => p.liveDelta
        case None => Option.when(segs.nonEmpty)(
          lwwLive(segFrames, deltaColumns.toSeq.sorted,
            tombRows.map(AnnIndex.lastDeletes), hint).persist())
      }
      new ServingSnapshot(relations, segs, tombs, relations(docsPath),
        relations(artPath), deltaColumns, live, tombstones)
    }
  }

  /** The session IVF-PQ artifact serving this corpus — the SAME
    * write-once artifact the q148–q154 query family probes
    * ([[graft.queries.AnnQueries.ivfPqIndexDir]]), so the service
    * surface and the declared queries share one source of truth for
    * the CREATE-INDEX-once lifecycle (the reference provisions its
    * index the same way, README.md:71-79, and then every tool call
    * probes it, server.py:87). First call per session fits + persists;
    * every later call — from any entry point — reads the artifact. */
  def indexDir(sfDir: String): String =
    graft.queries.AnnQueries.ivfPqIndexDir(spark, sfDir)

  /** The end-to-end tool path SERVED FROM THE INDEX — the shape the
    * reference's tool call actually has (server.py:87 is a
    * `db.index.vector.queryNodes` probe, not a corpus scan): prompt →
    * embed → [[graft.search.AnnIndex.probeIvfPq]] against the persisted
    * session artifact (cell partition pruning → ADC shortlist → exact
    * top-k, one scan) → fetch the k hit payloads by id.
    *
    * The payload fetch is the index-stores-ids architecture: the probe
    * returns ≤ k (doc_id, score) rows — collected driver-side, bounded
    * by construction — and the documents scan is filtered by those ids,
    * which reaches parquet as a PushedFilter (In) so at 100 TB the
    * fetch reads the row groups containing k documents, not the table
    * (PlanSpec-pinned). Recall: exact iff every true top-k member
    * survives cell pruning + the ADC shortlist — q165's oracle is the
    * exact top-k and fails closed on any miss
    * ([[graft.queries.AnnQueries.ServedShortlist]] carries the
    * measured minima). */
  /** `filter`: the service-surface metadata filter — conjunctive
    * scalar equality over persisted payload columns (q152's
    * pre-filter strategy: it reaches the artifact scans as a
    * PushedFilter under the cell PartitionFilter, so the shortlist
    * ranks qualifying rows only and a selective filter cannot starve
    * the top-k). The delta contributes only rows that carry AND match
    * the filtered columns (latest version decides — the rule
    * corpusWithDelta documents, shared by the exact fallback), and
    * collision canonicity is judged against the FILTERED live corpus
    * (the exact route's anti-join semantics). */
  def searchIndexed(sfDir: String, prompt: String, k: Int = 10,
                    nProbe: Int = graft.queries.AnnQueries.IvfNProbe,
                    shortlist: Int = graft.queries.AnnQueries.ServedShortlist,
                    deltaDir: Option[String] = None,
                    filter: Seq[(String, Any)] = Nil,
                    mainDir: Option[String] = None): DataFrame = {
    val r = rankIndexed(sfDir, prompt, k, nProbe, shortlist, deltaDir,
      filter, mainDir, mainText = false)
    val scores = r.hits.toDF("doc_id", "score")
    val corpusPayload = mainPayload(r.snap, mainDir.isDefined, r.mainIds)
    // delta docs are NOT in the corpus parquet — their payload rides
    // the delta segments themselves (encodeSegment carries the ingest
    // batch's columns through), already id-unique and corpus-disjoint;
    // the ≤ k texts came back with the delta top-k
    val payload =
      if (r.text.isEmpty) corpusPayload
      else corpusPayload.unionByName(r.text.toSeq.toDF("doc_id", "text"))
    // the inner join drops a merged hit whose payload exists NOWHERE
    // (artifact without a text column AND absent from the documents
    // table) — such a result serves under-k rather than fabricating a
    // payload; the collecting routes' textOf merge applies the same
    // rule, so every face agrees on this edge too
    payload
      .join(broadcast(scores), Seq("doc_id"))
      .orderBy(desc("score"), asc("doc_id"))
      .select($"doc_id", $"text", $"score")
  }

  /** [[searchIndexed]]'s answer collected for the tool surface: the
    * same ranking, with the main payload step as the batch route's
    * driver-side [[textOf]] merge (one ≤ k-id point-lookup collect on
    * the main chain) instead of a plan-side join and sort of ≤ k rows. */
  private def searchIndexedHits(sfDir: String, prompt: String, k: Int,
                                deltaDir: Option[String],
                                filter: Seq[(String, Any)],
                                mainDir: Option[String]): Array[SearchHit] = {
    val r = rankIndexed(sfDir, prompt, k,
      graft.queries.AnnQueries.IvfNProbe, graft.queries.AnnQueries.ServedShortlist,
      deltaDir, filter, mainDir, mainText = true)
    r.hits.flatMap { case (id, score) => r.text.get(id).map(SearchHit(id, _, score)) }
      .toArray
  }

  /** One served prompt's ranked (doc_id, score) hits, ≤ k, in (score
    * desc, doc_id asc) order, with the snapshot they were ranked
    * against, the main side's hit ids and the hits' payloads known so
    * far: every delta hit's, plus every main hit's when the main chain
    * fetched them (`mainText`). */
  private final class Ranked(val snap: ServingSnapshot, val hits: Seq[(Long, Double)],
                             val mainIds: Seq[Long], val text: Map[Long, String])

  /** The ranking runs as two chains at once ([[SearchEngine.overlapped]]):
    * the MAIN chain probes the artifact and, with `mainText`, then
    * reads its ≤ k hits' payloads; the DELTA chain runs the delta
    * top-k (text riding with each hit) and its collision check. Neither
    * reads the other's output before the ≤ 2k driver merge. */
  private def rankIndexed(sfDir: String, prompt: String, k: Int, nProbe: Int,
                          shortlist: Int, deltaDir: Option[String],
                          filter: Seq[(String, Any)],
                          mainDir: Option[String], mainText: Boolean): Ranked = {
    // the payload fetch and the driver merge are O(k): an unbounded
    // caller-supplied k would build an arbitrarily large In literal
    // list and driver row set — fail the request loudly instead (the
    // reference's tool hard-codes k=10; MaxServedK leaves 100×
    // headroom for legitimate fan-out)
    require(k >= 1 && k <= SearchEngine.MaxServedK,
      s"served k must be in [1, ${SearchEngine.MaxServedK}], got $k")
    val qv = embedder.embed(prompt)
    // `mainDir` overrides the session artifact — the serving-root
    // route ([[searchJsonRoot]]) resolves an epoch's artifact dir per
    // request and threads it here, so a major fold or refit swaps the
    // serving pair without this method knowing a pointer exists
    val main = mainDir.getOrElse(indexDir(sfDir))
    // the delta's segment set and tombstones are resolved ONCE — the
    // probe and the payload fetch below read the same snapshot even
    // if a compaction publishes a new manifest mid-query; id
    // collisions inside the delta resolve latest-batch-wins and
    // tombstoned rows are dropped (the lifecycle rules corpusWithDelta
    // documents — both routes share them)
    val root = mainDir.isDefined
    val snap = snapshot(sfDir, main, deltaDir, root)
    // the EVOLVING-index route is q150's main+delta read: the main
    // artifact is PROBED (cell pruning, ADC shortlist, exact rescore)
    // and the delta is EXACT-SCANNED in full — q150's documented rule
    // (small and fresh: indexing it costs more than scanning it), and
    // the rule matters MORE here than for in-distribution vectors: the
    // main quantizer/codebooks were fitted before these documents
    // existed, so a distribution-shifted ingest gets PQ codes that
    // under-represent it and ADC-ranking the delta could starve
    // exactly the documents the delta exists to serve. The exact scan
    // makes fresh-content recall unconditional. Top-k distributes
    // over union, so the ≤ 2k-row driver merge is exact. (The 500 k
    // ingest probe certifies the route end to end — SCALING.md
    // round-13.)
    // tombstoned ids are excluded INSIDE the probe's scan (a filter on
    // the held ids, or an anti-join past the ceiling — before any
    // ranking), so the main top-k back-fills with live rows exactly — a
    // deleted document is unserved, not a hole
    val (predicate, exclude) = snap.liveProbe(filterPredicate(filter))
    val ((mainHits, text), deltaHits) = SearchEngine.overlapped(spark) {
      val hits = graft.search.AnnIndex
        .probeIvfPq(spark, main, qv, k, nProbe, shortlist,
          predicate = predicate, exclude = exclude,
          artifact = Some(snap.artifact))
        .collect() // ≤ k rows — the bounded driver merge every top-k ends in
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      (hits, if (mainText) textOf(snap, root, hits.map(_._1)) else Map.empty[Long, String])
    } {
      // delta side: exact top-k over delta \ corpus-ids — the corpus is
      // CANONICAL on an id collision, exactly like the exact route's
      // anti-join (corpusWithDelta), so the fallback really is "slower,
      // never wronger" ([[deltaTopK]])
      snap.delta(filter).fold(Seq.empty[(Long, Double, String)]) { d =>
        deltaTopK(d, canonicalIds(sfDir, snap, root, filter),
            snap.deletedAmong, s"delta top-$k") { base =>
          base
            .withColumn("score", round(neo4jScore(col("embedding"), typedLit(qv.toSeq)), 6))
            .orderBy(desc("score"), asc("doc_id"))
            .limit(k)
            .select($"doc_id", $"score", $"text")
            .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
        }(_._1)
      }
    }
    // mainHits' ids live in the corpus, deltaHits' ids provably do not
    // — the sets are disjoint and each is id-unique, so the merge is a
    // plain sorted take
    val hits = (mainHits ++ deltaHits.map(h => (h._1, h._2)))
      .sortBy { case (id, score) => (-score, id) }
      .take(k)
    new Ranked(snap, hits, mainHits.map(_._1),
      text ++ deltaHits.map(h => h._1 -> h._3))
  }

  /** The delta side's top-k under corpus-canonical collision
    * exclusion, shared by the single and batched routes. Rather than
    * anti-joining the full canonical set per serve, membership is
    * checked with bounded point lookups on the candidate top-k's ids
    * (a PushedFilter In, like the payload fetch); a hit excludes those
    * ids and `top` reruns — one pass when no id collides (the common
    * case: ingest ids are fresh), each extra pass costs one scan of
    * the small delta. A collision means the id belongs to a LIVE
    * canonical document — a DELETED canonical id is fair game for the
    * delta, that's the del+put correction flow. The pass cap bounds
    * the pathological all-collisions delta; the served entry points
    * degrade to the exact scan on the loud failure. */
  private def deltaTopK[T](delta: DataFrame, canonical: DataFrame,
                           deletedAmong: Seq[Long] => Set[Long], what: String)
                          (top: DataFrame => Seq[T])(idOf: T => Long): Seq[T] = {
    var excluded = Set.empty[Long]
    var out: Option[Seq[T]] = None
    var passes = 0
    while (out.isEmpty) {
      passes += 1
      if (passes > SearchEngine.MaxCollisionPasses)
        throw new IllegalStateException(
          s"$what still colliding with canonical ids after " +
            s"${SearchEngine.MaxCollisionPasses} passes (${excluded.size} excluded)")
      val found = top(if (excluded.isEmpty) delta
        else delta.filter(!SearchEngine.idIn(col("doc_id"), excluded)))
      val ids = found.map(idOf).distinct
      // both checks are ≤ k-id point lookups
      val inCanon =
        if (ids.isEmpty) Set.empty[Long]
        else canonical.filter(SearchEngine.idIn(col("doc_id"), ids))
          .select($"doc_id").collect().map(_.getLong(0)).toSet
      val deleted =
        if (inCanon.isEmpty) Set.empty[Long] else deletedAmong(inCanon.toIndexedSeq)
      val collided = inCanon -- deleted
      if (collided.isEmpty) out = Some(found) else excluded ++= collided
    }
    out.get
  }

  /** Streaming DOCUMENT ingest that keeps the SERVED index current —
    * the end-to-end lifecycle the reference cannot express (its index
    * is provisioned manually, README.md:71-79): each micro-batch of
    * (doc_id, text) rows is embedded per-partition
    * ([[Embedder.embedCorpus]] — one embedder init per partition,
    * never per row), encoded into the main artifact's geometry, and
    * appended to the LSM delta with the TEXT riding the segment rows
    * as payload; [[searchIndexed]] with the same `deltaDir` then
    * serves the new documents — hits, payload and all — from the next
    * micro-batch on, with no index rebuild and no touch of the main
    * artifact's files. Replay==batch by [[graft.sources.SegmentStore]]'s
    * committed-segment idempotence (a replayed batch id no-ops).
    *
    * RESTART CONTRACT: the store's idempotence keys on STABLE batch
    * ids. Pass `checkpointDir` for any ingest that can outlive its
    * process — a restart then resumes at the next unprocessed batch.
    * Without it Spark assigns a throwaway checkpoint, a restarted
    * query numbers batches from 0 again, and batch 0's new (different)
    * rows would be discarded as an already-committed replay of the old
    * batch 0 — silent row loss, not replay. Omit it only for
    * one-process test/demo streams. */
  def streamingDocIngest(newDocs: DataFrame, sfDir: String, deltaDir: String,
                         compactEvery: Int,
                         checkpointDir: Option[String] = None)
                        (afterBatch: Long => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery = {
    val main = indexDir(sfDir)
    checkpointDir.foldLeft(newDocs.writeStream.outputMode("append"))(
        (w, dir) => w.option("checkpointLocation", dir))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          graft.search.AnnIndex.appendDeltaBatch(
            batch.sparkSession, main, deltaDir,
            embedder.embedCorpus(batch.toDF(), "text", "embedding")
              // a zero-norm embedding (empty/whitespace text under the
              // hashing embedder) has no direction to index: cosine
              // against it is NULL, which would poison the probe's
              // driver merge — excluded at ingest, the same class of
              // guard the dim filter applies at the corpus
              .filter(exists(col("embedding"), x => x =!= lit(0.0f)))
              .select(col("doc_id").as("vec_id"), col("embedding"), col("text")),
            id, compactEvery)
        afterBatch(id)
      }
      .start()
  }

  /** Streaming DOCUMENT lifecycle — [[streamingDocIngest]] generalized
    * to an OPERATIONS stream (doc_id, text, op) with op ∈ {put, del}:
    * each micro-batch's puts are embedded/encoded into the LSM delta
    * exactly as streamingDocIngest does, and its dels land as
    * tombstone markers in the delta's tombstone store
    * ([[graft.search.AnnIndex.appendTombstones]] — same SegmentStore
    * discipline, ids only). [[searchIndexed]]/[[search]] with the same
    * `deltaDir` then serve latest-op-wins: a delete UNSERVES a
    * document — including one baked into the main artifact, whose
    * files never change (the tombstone is the delete, the thing the
    * reference's manually-provisioned index cannot express at all) —
    * and a later put of the same id serves the corrected content
    * (del + put = re-ingest-with-correction). Put wins a same-batch
    * tie, so one batch carrying del+put of an id is a replace.
    * Replay==batch and the RESTART CONTRACT are [[streamingDocIngest]]'s
    * (committed-segment idempotence keyed on stable batch ids; pass
    * `checkpointDir` for anything that can outlive its process).
    * Unknown op values fail the batch loudly — a silently dropped
    * operation is a correctness bug, not a tolerable default. */
  def streamingDocApply(ops: DataFrame, sfDir: String, deltaDir: String,
                        compactEvery: Int,
                        checkpointDir: Option[String] = None)
                       (afterBatch: Long => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery = {
    val main = indexDir(sfDir)
    checkpointDir.foldLeft(ops.writeStream.outputMode("append"))(
        (w, dir) => w.option("checkpointLocation", dir))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val b = batch.toDF().cache()
          try {
            // a NULL op must trip the guard too: `!isin` evaluates to
            // null on null input (dropped by filter) and the row would
            // also fail both the put and del filters below — silent row
            // loss, the exact failure the loud-contract forbids
            val badOps = b.filter(col("op").isNull || !col("op").isin("put", "del"))
              .limit(1).collect()
            require(badOps.isEmpty,
              s"streamingDocApply: unknown op '${badOps.headOption.map(_.getAs[String]("op")).orNull}' " +
                "(supported: put, del)")
            val puts = b.filter(col("op") === "put")
            if (!puts.isEmpty)
              graft.search.AnnIndex.appendDeltaBatch(
                s, main, deltaDir,
                embedder.embedCorpus(puts, "text", "embedding")
                  .filter(exists(col("embedding"), x => x =!= lit(0.0f)))
                  .select(col("doc_id").as("vec_id"), col("embedding"), col("text")),
                id, compactEvery)
            val delIds = b.filter(col("op") === "del")
              .select(col("doc_id").as("vec_id"))
            if (!delIds.isEmpty)
              graft.search.AnnIndex.appendTombstones(
                s, deltaDir, delIds, id, compactEvery)
          } finally b.unpersist(blocking = false)
        }
        afterBatch(id)
      }
      .start()
  }

  /** [[searchJson]] served from the index, with the EXACT path as the
    * explicit fallback: an index-route failure (artifact unbuildable,
    * dim mismatch, corrupted directory) degrades to the brute-force
    * scan rather than failing the tool call — the service answer may
    * get slower, never wronger. But never SILENTLY: each fallback is
    * counted ([[indexFallbackCount]]) and logged to stderr, because a
    * persistently dead index route otherwise turns every request into
    * hidden full-corpus-scan cost with zero operator signal. Only
    * NonFatal failures degrade (an InterruptedException or OOM must
    * propagate). Empty-result intent as [[searchJson]]. */
  def searchJsonIndexed(sfDir: String, prompt: String, k: Int = 10,
                        deltaDir: Option[String] = None,
                        filter: Seq[(String, Any)] = Nil): String = {
    // validate k BEFORE the degradation boundary: searchIndexed's own
    // require would land in the NonFatal catch below and "degrade" a
    // hostile k to the exact scan — which runs the same unbounded
    // limit(k).collect() the guard exists to prevent. An invalid
    // argument is the caller's error on BOTH routes, never a fallback.
    require(k >= 1 && k <= SearchEngine.MaxServedK,
      s"served k must be in [1, ${SearchEngine.MaxServedK}], got $k")
    renderHits(
      try searchIndexedHits(sfDir, prompt, k, deltaDir, filter, mainDir = None)
      catch {
        case scala.util.control.NonFatal(e) =>
          indexFallbackCount.incrementAndGet()
          System.err.println("graft: index route failed (" +
            s"${e.getClass.getSimpleName}: ${e.getMessage}); serving exact scan")
          // the fallback scans corpus ∪ delta — dropping the streamed-in
          // docs here would make the degraded answer WRONG, not slow
          search(sfDir, prompt, k, deltaDir, filter).collect()
      })
  }

  /** How many tool calls this engine served via the exact-scan
    * fallback because the index route failed — the operator's signal
    * that the served path is degraded. */
  val indexFallbackCount = new java.util.concurrent.atomic.AtomicLong

  /** [[searchJsonIndexed]] under a SERVING ROOT — the seam the
    * round-15 verdict named as the last gap between the lifecycle and
    * the tool surface: the pointer ([[graft.search.AnnIndex.ServingRoot]])
    * is resolved PER REQUEST (one atomic read), so a concurrent
    * [[graft.search.AnnIndex.majorFoldPublish]] or a tripped
    * [[graft.search.AnnIndex.refitIfDrifted]] swaps what this serves
    * between two requests with no restart — pre-swap requests finish
    * against their grace-GC'd snapshot, post-swap requests read the
    * folded/refit epoch, and no request ever sees main without its
    * tombstones (the resurrection guarantee the fold soak certifies).
    * Degradation contract as [[searchJsonIndexed]]: a NonFatal
    * index-route failure re-resolves and serves the EXACT scan of the
    * epoch's live frames — slower, never wronger, counted and logged. */
  def searchJsonRoot(sfDir: String, rootDir: String, prompt: String,
                     k: Int = 10, filter: Seq[(String, Any)] = Nil): String = {
    require(k >= 1 && k <= SearchEngine.MaxServedK,
      s"served k must be in [1, ${SearchEngine.MaxServedK}], got $k")
    // OUTSIDE the fallback try by design: an embedder-space mismatch
    // poisons the exact scan too (it compares the mis-embedded prompt
    // against the corpus vectors), so degrading would serve
    // confidently wrong scores — this must stay loud
    graft.search.AnnIndex.ServingRoot.requireEmbedder(
      org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration), rootDir, embedder.signature)
    renderHits(
      try {
        val (idx, delta) = graft.search.AnnIndex.ServingRoot.resolve(spark, rootDir)
        searchIndexedHits(sfDir, prompt, k, Some(delta), filter, Some(idx))
      } catch {
        case scala.util.control.NonFatal(e) =>
          indexFallbackCount.incrementAndGet()
          System.err.println("graft: root index route failed (" +
            s"${e.getClass.getSimpleName}: ${e.getMessage}); serving exact scan")
          exactRootHits(sfDir, rootDir, embedder.embed(prompt), k, filter)
      })
  }

  /** The root route's exact fallback: re-resolve the pointer and
    * brute-force-score the epoch's LIVE frames (main ∖ tombstones ∪
    * delta after latest-op-wins — the same liveness every probe
    * serves). An id carried by BOTH the epoch artifact and the delta
    * resolves to the artifact row (corpus-canonical, the
    * [[corpusWithDelta]] rule). Text back-fills from the documents
    * table for artifact rows that predate any ingest (their payload
    * never rode the index). */
  private[graft] def exactRootHits(sfDir: String, rootDir: String, qv: Array[Float],
                            k: Int, filter: Seq[(String, Any)]): Array[SearchHit] = {
    val (idx, delta) = graft.search.AnnIndex.ServingRoot.resolve(spark, rootDir)
    exactLiveHits(sfDir, idx, Some(delta), qv, k, filter)
  }

  /** [[exactRootHits]]' body over an explicit (artifact, delta) pair —
    * the exact fallback for ANY epoch-artifact route (the batch entry
    * point's `mainDir` included: its degraded answer must still cover
    * the artifact's folded-in docs, not silently revert to the SESSION
    * corpus). A `deltaDir` of None scans the artifact's frames alone. */
  private def exactLiveHits(sfDir: String, idx: String,
                            deltaDir: Option[String], qv: Array[Float],
                            k: Int, filter: Seq[(String, Any)]): Array[SearchHit] = {
    val frames = graft.search.AnnIndex.lsmLiveSegments(spark, idx,
      deltaDir.getOrElse(s"$idx/__no_delta__"))
    val rows = frames.zipWithIndex.map { case (f, i) =>
      val textCol = if (f.columns.contains("text")) col("text")
        else lit(null).cast("string")
      val present = filter.filter { case (c, _) => f.columns.contains(c) }
      // a frame lacking a filtered column contributes nothing under
      // that filter (corpusWithDelta's per-side rule)
      val keep =
        if (filter.isEmpty) f
        else if (present.size < filter.size) f.filter(lit(false))
        else f.filter(filterPredicate(filter))
      keep.select(col("vec_id").as("doc_id"), textCol.as("text"),
        col("embedding"), lit(i).as("_src"))
    }.reduce(_.unionByName(_))
    val wCanon = Window.partitionBy($"doc_id").orderBy($"_src".asc)
    val top = rows
      .withColumn("_rn", row_number().over(wCanon))
      .filter($"_rn" === 1)
      .withColumn("score", round(neo4jScore(col("embedding"), typedLit(qv.toSeq)), 6))
      .orderBy(desc("score"), asc("doc_id")).limit(k)
      .select($"doc_id", $"text", $"score").collect()
    val missing = top.filter(_.isNullAt(1)).map(_.getLong(0))
    val docText =
      if (missing.isEmpty) Map.empty[Long, String]
      else spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(SearchEngine.idIn(col("doc_id"), missing))
        .select($"doc_id", $"text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    top.map(r => SearchHit(r.getLong(0),
      if (r.isNullAt(1)) docText.getOrElse(r.getLong(0), "") else r.getString(1),
      r.getDouble(2)))
  }

  /** Batched face of [[searchIndexed]] — ONE plan serves the whole
    * prompt batch, the round-15 q176 lesson
    * ([[graft.search.AnnIndex.probeIvfPqSegmentsMulti]]: N sequential
    * probe subtrees cost ~2.7× one batched plan) applied to the
    * service surface for multi-tenant callers. Per-prompt semantics
    * are [[searchIndexed]]'s exactly — same artifact, same lifecycle
    * and filter rules, same (score desc, doc_id asc) order, spec-pinned
    * batch == per-prompt:
    *
    *  - the MAIN side runs the multi-query probe against the filtered,
    *    tombstone-shadowed artifact frame — cell ranking, ADC
    *    shortlist and exact rescore shared across the batch;
    *  - the DELTA side exact-scans once, scoring every live delta row
    *    against ALL queries in one broadcast pass (the per-prompt
    *    route's exact-scan rule, batched), with the same
    *    corpus-canonical collision exclusion (bounded point lookups,
    *    never a corpus-wide anti-join);
    *  - the merge and payload fetch are O(prompts·k) driver work.
    *
    * @return per-prompt hit lists, in prompt order. */
  def searchIndexedBatch(sfDir: String, prompts: Seq[String], k: Int = 10,
      nProbe: Int = graft.queries.AnnQueries.IvfNProbe,
      shortlist: Int = graft.queries.AnnQueries.ServedShortlist,
      deltaDir: Option[String] = None,
      filter: Seq[(String, Any)] = Nil,
      mainDir: Option[String] = None): Seq[Seq[SearchHit]] = {
    requireBatch(prompts, k)
    val main = mainDir.getOrElse(indexDir(sfDir))
    val root = mainDir.isDefined
    val snap = snapshot(sfDir, main, deltaDir, root)
    val queries = queryFrame(prompts)
    // the per-prompt route's two chains, batched: the MAIN chain runs
    // the one-plan probe and then its hits' payload lookup while the
    // DELTA chain runs the batched delta top-k, its collision check
    // and its hits' text lookup
    val ((mainHits, mainText), (deltaHits, deltaText)) = SearchEngine.overlapped(spark) {
      val hits = batchProbe(snap, main, queries, k, nProbe, shortlist, filter)
        .collect() // ≤ prompts·k rows
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      (hits, textOf(snap, root, hits.map(_._2).distinct.toIndexedSeq))
    } {
      // one exact pass scores every live delta row against every query
      // (queries broadcast — ≤ MaxBatchPrompts rows); collision
      // canonicity is the per-prompt loop's rule, batched: candidate
      // ids that are LIVE canonical ids are excluded and the scan
      // retries
      snap.delta(filter).fold((Seq.empty[(Long, Long, Double)], Map.empty[Long, String])) { d =>
        val qside = broadcast(queries
          .select($"vec_id".as("query_id"), $"embedding".as("qe")))
        val hits = deltaTopK(d, canonicalIds(sfDir, snap, root, filter),
            snap.deletedAmong, s"batched delta top-$k") { base =>
          base.crossJoin(qside)
            .withColumn("score",
              round(neo4jScore(col("embedding"), col("qe")), 6))
            .groupBy($"query_id")
            .agg(graft.expressions.TopKAggExpr
              .topK($"doc_id", $"score", k).as("hits"))
            .select($"query_id", explode($"hits").as("hit"))
            .select($"query_id", $"hit.id".as("doc_id"), $"hit.score".as("score"))
            .collect() // ≤ prompts·k rows
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        }(_._2)
        // the top-k aggregate keeps (id, score) only: the ≤ prompts·k
        // hits' text is one In-filtered lookup of the live delta rows
        val ids = hits.map(_._2).distinct
        (hits, if (ids.isEmpty) Map.empty[Long, String]
          else d.filter(SearchEngine.idIn(col("doc_id"), ids)).select($"doc_id", $"text")
            .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
      }
    }
    // merge per query (the per-prompt route's ≤ 2k driver merge,
    // batched) — grouped maps keep the whole driver tail O(prompts·k),
    // the bound the caps exist to guarantee
    val mainByQ = mainHits.groupBy(_._1)
    val deltaByQ = deltaHits.groupBy(_._1)
    val merged = (0 until prompts.size).map { q =>
      (mainByQ.getOrElse(q.toLong, Array.empty[(Long, Long, Double)])
          .map(t => (t._2, t._3)) ++
        deltaByQ.getOrElse(q.toLong, Seq.empty[(Long, Long, Double)])
          .map(t => (t._2, t._3)))
        .toSeq
        .sortBy { case (id, score) => (-score, id) }
        .take(k)
    }
    val text = mainText ++ deltaText
    // a merged hit with no payload anywhere is dropped below k — the
    // per-prompt route's rule exactly (see searchIndexed's final
    // join), keeping batch == per-prompt on this edge
    merged.map(_.flatMap { case (id, score) =>
      text.get(id).map(SearchHit(id, _, score))
    })
  }

  /** The batch caps every batched entry point enforces. */
  private def requireBatch(prompts: Seq[String], k: Int): Unit = {
    require(k >= 1 && k <= SearchEngine.MaxServedK,
      s"served k must be in [1, ${SearchEngine.MaxServedK}], got $k")
    require(prompts.nonEmpty && prompts.size <= SearchEngine.MaxBatchPrompts,
      s"batch must carry 1..${SearchEngine.MaxBatchPrompts} prompts, got ${prompts.size}")
  }

  /** The prompt batch as (vec_id = prompt index, embedding). */
  private def queryFrame(prompts: Seq[String]): DataFrame =
    prompts.zipWithIndex
      .map { case (p, i) => (i.toLong, embedder.embed(p).toSeq) }
      .toDF("vec_id", "embedding")

  /** The batched route's MAIN-side probe frame — built, NOT collected:
    * ONE [[graft.search.AnnIndex.probeIvfPqSegmentsMulti]] plan serves
    * the whole prompt batch (the metadata filter and the tombstone
    * shadow applied to the artifact frame BEFORE ranking, so every
    * query's top-k back-fills with live qualifying rows exactly).
    * Public as [[searchIndexedBatch]]'s plan-pin seam: the batch
    * feature IS this plan shape — N prompts, one probe subtree — and
    * PlanSpec asserts it on exactly this frame (a silent fallback to
    * per-prompt plans would triple the artifact scans, the q176
    * lesson). Returns (query_id, doc_id, score). */
  def batchMainProbeFrame(sfDir: String, prompts: Seq[String], k: Int = 10,
      nProbe: Int = graft.queries.AnnQueries.IvfNProbe,
      shortlist: Int = graft.queries.AnnQueries.ServedShortlist,
      deltaDir: Option[String] = None,
      filter: Seq[(String, Any)] = Nil,
      mainDir: Option[String] = None): DataFrame = {
    // the same caps the collecting route enforces — this entry point
    // is public (the plan-pin seam), so a direct caller must not be
    // able to build an unbounded query broadcast either
    requireBatch(prompts, k)
    val main = mainDir.getOrElse(indexDir(sfDir))
    batchProbe(snapshot(sfDir, main, deltaDir, root = mainDir.isDefined),
      main, queryFrame(prompts), k, nProbe, shortlist, filter)
  }

  private def batchProbe(snap: ServingSnapshot, main: String, queries: DataFrame,
                         k: Int, nProbe: Int, shortlist: Int,
                         filter: Seq[(String, Any)]): DataFrame = {
    val (predicate, exclude) = snap.liveProbe(filterPredicate(filter))
    val live = snap.artifact.filter(predicate)
    val mainFrame = exclude.fold(live)(live.join(_, Seq("vec_id"), "left_anti"))
    graft.search.AnnIndex
      .probeIvfPqSegmentsMulti(spark, main, Seq(mainFrame), queries,
        k, nProbe, shortlist)
      .select($"query_id", $"doc_id", $"score")
  }

  /** [[searchIndexedBatch]] rendered for the tool surface: a JSON
    * array with one element PER PROMPT, each the prompt's hits array
    * (`[]` when empty — the batch face represents emptiness
    * structurally; the reference's "No results found." sentence stays
    * a single-tool behavior). Degradation contract as
    * [[searchJsonIndexed]]: a NonFatal index-route failure serves the
    * EXACT scan per prompt — slower (the batch loses its one-plan
    * economy), never wronger, counted and logged. "Never wronger"
    * binds the fallback to the route's OWN corpus: with `mainDir` set
    * the exact scans cover the epoch artifact's live frames
    * ([[exactLiveHits]] — a session-corpus scan would drop every
    * folded-in doc), without it the session corpus ∪ delta. Argument
    * errors (k/prompt caps) stay loud on both routes. */
  def searchJsonBatch(sfDir: String, prompts: Seq[String], k: Int = 10,
      deltaDir: Option[String] = None,
      filter: Seq[(String, Any)] = Nil,
      mainDir: Option[String] = None): String = {
    requireBatch(prompts, k)
    renderBatch(
      try searchIndexedBatch(sfDir, prompts, k,
        deltaDir = deltaDir, filter = filter, mainDir = mainDir)
      catch {
        case scala.util.control.NonFatal(e) =>
          indexFallbackCount.incrementAndGet()
          System.err.println("graft: batch index route failed (" +
            s"${e.getClass.getSimpleName}: ${e.getMessage}); serving exact scans")
          mainDir match {
            case Some(m) => prompts.map(p =>
              exactLiveHits(sfDir, m, deltaDir, embedder.embed(p), k,
                filter).toSeq)
            case None => prompts.map(p =>
              search(sfDir, p, k, deltaDir, filter).collect().toSeq)
          }
      })
  }

  /** [[searchJsonBatch]] under a serving root — pointer resolved once
    * per BATCH (the batch is one logical request; every prompt in it
    * reads the same epoch snapshot). Degradation re-resolves and
    * exact-scans the epoch's live frames per prompt. */
  def searchJsonBatchRoot(sfDir: String, rootDir: String,
      prompts: Seq[String], k: Int = 10,
      filter: Seq[(String, Any)] = Nil): String = {
    requireBatch(prompts, k)
    // same loud-over-degraded contract as the single root route
    graft.search.AnnIndex.ServingRoot.requireEmbedder(
      org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration), rootDir, embedder.signature)
    renderBatch(
      try {
        val (idx, delta) =
          graft.search.AnnIndex.ServingRoot.resolve(spark, rootDir)
        searchIndexedBatch(sfDir, prompts, k,
          deltaDir = Some(delta), filter = filter, mainDir = Some(idx))
      } catch {
        case scala.util.control.NonFatal(e) =>
          indexFallbackCount.incrementAndGet()
          System.err.println("graft: batch root route failed (" +
            s"${e.getClass.getSimpleName}: ${e.getMessage}); serving exact scans")
          prompts.map(p =>
            exactRootHits(sfDir, rootDir, embedder.embed(p), k, filter).toSeq)
      })
  }

  private[graft] def renderBatch(all: Seq[Seq[SearchHit]]): String =
    all.map(hits => hits.map(h =>
        s"""{"doc_id":${h.doc_id},"text":${jsonQuote(h.text)},"score":${h.score}}""")
      .mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** Intended empty-result semantics: the reference *means* to return
    * "No results found." on an empty hit set but its check is unreachable
    * (reference server.py:98-102 tests a truthy `"[]"` string —
    * SURVEY.md §2.1 O10). The engine implements the intent. */
  def searchJson(sfDir: String, prompt: String, k: Int = 10,
                 deltaDir: Option[String] = None,
                 filter: Seq[(String, Any)] = Nil): String =
    renderHits(search(sfDir, prompt, k, deltaDir, filter).collect())

  private[graft] def renderHits(hits: Array[SearchHit]): String =
    if (hits.isEmpty) "No results found."
    else hits.map(h =>
      s"""{"doc_id":${h.doc_id},"text":${jsonQuote(h.text)},"score":${h.score}}""")
      .mkString("[", ", ", "]")

  private def jsonQuote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Hybrid retrieval: the prompt drives BOTH a vector arm (embed →
    * cosine top-`poolK`) and a keyword arm (the prompt's tokens →
    * BM25 top-`poolK` over the same corpus), fused by reciprocal rank
    * fusion ([[graft.operators.Bm25.rrfFuse]]). The standard fix for
    * pure-vector misses on exact-term queries — extension surface (the
    * reference searches vectors only, server.py:85-91).
    * @return (doc_id, rank_vec, rank_kw, rrf) — top-k by fused score,
    *         absent-arm ranks as -1. */
  def hybridSearch(sfDir: String, prompt: String, k: Int = 10, poolK: Int = 20): DataFrame = {
    val c = corpus(sfDir, embedder.dim)
    // scores round to 6 dp BEFORE ranking (the engine-wide determinism
    // convention): rank must not flip on 1-ulp score differences
    val vrank = c
      .withColumn("score",
        round(neo4jScore(col("embedding"), typedLit(embedder.embed(prompt).toSeq)), 6))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(poolK)
      .withColumn("rank",
        // the frame is ≤ poolK rows (post-limit). The partition key is a
        // constant-valued but NON-FOLDABLE expression (doc_id % 1 ≡ 0):
        // a literal would be folded out of the partition spec by
        // Catalyst, sending WindowExec down its warn-and-single-
        // partition path; this ranks the same single tiny group quietly
        row_number().over(Window.partitionBy(pmod($"doc_id", lit(1)))
          .orderBy(desc("score"), asc("doc_id"))))
      .select($"doc_id", $"rank")
    val terms = prompt.split(" ").toSeq.filter(_.nonEmpty).distinct
    // the SHARED session-cached tokenization (one pass per session,
    // reused by BM25/TF-IDF/packing): building an equivalent plan
    // inline here would NOT hit the cache — CacheManager substitution
    // matches canonicalized subtrees, and a different projection over
    // the same scan is a different subtree, silently re-tokenizing the
    // corpus on every hybrid query
    val tokenized = graft.queries.KeywordQueries.tokenizedDocs(spark, sfDir)
      .select($"doc_id", $"toks", $"dl")
    val krank = graft.operators.Bm25.scores(tokenized, terms)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(poolK)
      .withColumn("rank",
        row_number().over(Window.partitionBy(pmod($"doc_id", lit(1)))
          .orderBy(desc("score"), asc("doc_id"))))
      .select($"doc_id", $"rank")
    graft.operators.Bm25.rrfFuse(vrank, krank)
      .withColumnRenamed("rank_a", "rank_vec")
      .withColumnRenamed("rank_b", "rank_kw")
      .orderBy(desc("rrf"), asc("doc_id"))
      .limit(k)
  }

  /** Metadata-filtered search (SURVEY.md §2.2 filter row): predicate is
    * applied *before* scoring so Catalyst pushes it into the Parquet scan
    * — at 100 TB a selective filter prunes row groups via statistics
    * before any vector math runs. */
  def filteredTopK(corpus: DataFrame, predicate: Column, queryVec: Array[Float], k: Int = 10): Dataset[SearchHit] =
    topK(corpus.filter(predicate), queryVec, k)

  /** Streaming KNN: a *stream* of query vectors continuously matched
    * against the static corpus (micro-batch top-k — the Spark-native
    * stand-in for the reference's online index serving, SURVEY.md §1
    * "batch/micro-batch top-k instead"). Implemented as a stream-static
    * pattern via foreachBatch: each micro-batch of queries runs the
    * same broadcast KNN join the batch path uses, so streaming results
    * are definitionally consistent with batch results (asserted in
    * SearchEngineSpec). `sink` receives (query_id, doc_id, score, rank)
    * per micro-batch. */
  def streamingKnn(queryStream: DataFrame, corpus: DataFrame, k: Int)
                  (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) sink(knnJoinWindow(batch, corpus, k), id)
      }
      .start()

  /** Streaming KNN against the PERSISTED IVF artifact — the vector
    * twin of [[graft.streaming.EventStreams.incrementalDedupVsIndex]]:
    * one disk artifact (quantizer + cell-partitioned corpus,
    * [[graft.search.AnnIndex.saveIvf]]) serves batch probes (q75/q87)
    * and the query stream alike, so the CREATE-INDEX-once lifecycle has
    * a single source of truth across both execution modes. Each
    * micro-batch runs [[graft.search.AnnIndex.probeIvfMulti]] — the
    * same pruned-read plan as batch, so stream results are
    * definitionally consistent with batch results (asserted in
    * AnnIndexSpec). Stateless: the artifact carries all corpus state,
    * nothing accumulates in the stream. */
  def streamingKnnVsIvf(queryStream: DataFrame, indexDir: String, k: Int,
                        nProbe: Int)
                       (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          sink(graft.search.AnnIndex.probeIvfMulti(
            batch.sparkSession, indexDir, batch, k, nProbe), id)
      }
      .start()

  /** Streaming KNN against the PERSISTED IVF-PQ artifact — the
    * compressed sibling of [[streamingKnnVsIvf]]: each micro-batch of
    * query vectors runs [[graft.search.AnnIndex.probeIvfPqMulti]] —
    * the q151 plan (per-query DPP cell pruning, one scan scoring ADC
    * and exact side by side, per-query shortlists, top-k heaps) — so
    * stream results are definitionally consistent with batch results
    * (asserted in SearchEngineSpec). Stateless: the artifact carries
    * all corpus state. */
  def streamingKnnVsIvfPq(queryStream: DataFrame, indexDir: String, k: Int,
                          nProbe: Int, shortlist: Int)
                         (sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          sink(graft.search.AnnIndex.probeIvfPqMulti(
            batch.sparkSession, indexDir, batch, k, nProbe, shortlist), id)
      }
      .start()

  /** Streaming LSM MAINTENANCE of a persisted IVF-PQ index — the
    * write-path twin that closes the lifecycle q148–q153 cover in
    * batch (create → serve → graduate → compact): each micro-batch of
    * newly ingested vectors is encoded into the MAIN artifact's
    * geometry ([[graft.search.AnnIndex.encodeSegment]] — main
    * quantizer assigns cells, main codebooks assign codes, NO refit,
    * O(batch) work) and written as an immutable per-batch live
    * segment (idempotent under foreachBatch's at-least-once replay);
    * every `compactEvery` batches the live tail folds into a new
    * compacted generation published by an atomic manifest swap
    * ([[graft.search.AnnIndex.appendDeltaBatch]] — grace-period GC
    * keeps a racing probe's resolved segment set on disk). Probes
    * against the evolving index run
    * [[graft.search.AnnIndex.probeIvfPqLsm]] — main ∪ the
    * manifest-resolved delta segments, one cell ranking pruning every
    * segment scan. `afterBatch`
    * fires after each batch's maintenance completes (the spec probes
    * there); replay==batch: the final index state is a pure function
    * of the rows ingested, not of the batch carve — SearchEngineSpec
    * asserts the streamed index answers identically to a one-shot
    * batch encode AND to the exact scan. Same RESTART CONTRACT as
    * [[streamingDocIngest]]: pass `checkpointDir` for any maintenance
    * stream that can outlive its process — stable batch ids are what
    * the store's committed-segment idempotence keys on. */
  def streamingIvfPqMaintain(newVecs: DataFrame, indexDir: String,
                             deltaDir: String, compactEvery: Int,
                             checkpointDir: Option[String] = None)
                            (afterBatch: Long => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery =
    checkpointDir.foldLeft(newVecs.writeStream.outputMode("append"))(
        (w, dir) => w.option("checkpointLocation", dir))
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty)
          graft.search.AnnIndex.appendDeltaBatch(
            batch.sparkSession, indexDir, deltaDir, batch.toDF(), id, compactEvery)
        afterBatch(id)
      }
      .start()

  /** Batch KNN join: a *set* of queries against the corpus
    * (SURVEY.md §2.2 joins/windows, §7 step 4).
    *
    * Plan shape: `broadcast(queries)` × corpus (the query batch is the
    * small side — broadcast, never shuffle the corpus), score each pair,
    * then per-query top-k via window rank. At fixture scale the window
    * shuffle is O(|corpus|·|queries|); for very large corpora prefer
    * [[graft.operators.TopKAggregator.knnJoin]], whose map-side partial
    * top-k shuffles only O(k·partitions·queries).
    */
  def knnJoinWindow(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
    val scored = corpus.crossJoin(broadcast(q))
      .withColumn("score", neo4jScore(col("embedding"), col("query_embedding")))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select($"query_id", $"doc_id", $"score", $"rank")
  }
}
