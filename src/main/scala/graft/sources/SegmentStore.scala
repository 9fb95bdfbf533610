package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}

/** Manifest-fronted segment layout for incrementally maintained
  * indexes — the one LSM write/read discipline every persisted
  * artifact that must GROW between full rebuilds shares (the IVF-PQ
  * delta of [[graft.search.AnnIndex.appendDeltaBatch]], the media
  * band indexes' graduation path). Layout under a store directory:
  *
  *  - `live/b<batchId>/`  — one immutable partitioned-parquet segment
  *    PER ingest batch, COMMITTED by temp-dir + rename: the batch
  *    writes to `live/.b<id>_tmp` and renames into place, so a
  *    concurrent reader can never scan a half-written segment (the
  *    same discipline the manifest publish uses; readers additionally
  *    require the job's `_SUCCESS` marker, which rides the rename).
  *    An at-least-once replay of an already-committed batch is a
  *    NO-OP — the callers encode deterministically, so the committed
  *    directory already holds exactly the replay's rows, and skipping
  *    the rewrite means a reader mid-scan never sees the directory
  *    recycled under it. Only an UNCOMMITTED partial (a crash between
  *    write and rename) is ever deleted, and no reader trusts one.
  *  - `compacted_g<gen>/` — immutable folded generations: each
  *    compaction unions the previous generation with the live tail,
  *    keeps the LATEST writer per caller key set (max
  *    [[BatchCol]] per `dedupKeys` — deterministic last-writer-wins,
  *    so a document re-ingested across batches is served from its
  *    newest row, and rows from a batch replayed across a crashed
  *    compaction collapse to one), consolidates by the partition
  *    column, and writes a NEW generation directory — never mutating
  *    one a concurrent reader may be scanning.
  *  - `manifest_g<gen>`   — the atomic publish: a tiny file naming the
  *    generation's live watermark (`liveUpTo=<batchId>`), written
  *    under a temp name and renamed into place (single-file rename to
  *    a fresh name — atomic on HDFS and posix alike). The rename's
  *    boolean result is CHECKED: a false fails the batch loudly so
  *    the caller retries it, instead of silently serving readers a
  *    stale segment set. Readers take the highest-numbered manifest.
  *
  * Every segment row carries [[BatchCol]] (the writing batch's id) —
  * the column the fold's last-writer-wins rule orders by, also
  * available to readers that need the same rule over the UNFOLDED
  * live tail (e.g. the served document delta). Within one batch the
  * caller's keys are expected unique (or deterministic in content);
  * ties inside a batch collapse arbitrarily.
  *
  * Readers resolve [[segments]]: newest compacted generation + live
  * batches past its watermark. GC is grace-period: a compaction
  * deletes only generations and live dirs that the PREVIOUS manifest
  * no longer references, so a reader that resolved its segment list
  * against the previous manifest still finds every directory it
  * planned to scan — snapshot isolation by immutability, the
  * Iceberg/LSM manifest answer to the reader-vs-compaction race. The
  * fold bounds per-read file count: O(1) generations plus the
  * current live tail, the write-amplification trade every LSM store
  * makes. */
object SegmentStore {

  /** Reserved per-row column: the id of the batch that wrote the row.
    * Stamped by [[appendBatch]]; orders the fold's last-writer-wins
    * dedup and any reader-side latest-wins over the live tail. */
  val BatchCol = "_seg_batch"

  /** Store-root marker file naming the ROW FORMAT / BIT FAMILY of
    * every row in the store (e.g. `image-bands/dhash-v1`). Segment
    * rows carry hash bits whose FAMILY is invisible in the schema —
    * an aHash band and a dHash band are both four longs — so a
    * checkpoint-resumed ingest built under one family would silently
    * append rows of another into the same store and every band
    * equi-join between old and new rows would quietly miss: the
    * marker turns that into a LOUD failure at resume/probe time.
    * Written once at store creation ([[ensureFormat]]), immutable for
    * the store's life (a family change is a REBUILD into a fresh
    * store, never an in-place migration), and outside the segment /
    * manifest namespaces so folds and GC never touch it. */
  val FormatFile = "_format"

  /** The store's stamped format tag, or None for a store that
    * predates stamping (or doesn't exist yet). */
  def readFormat(fs: FileSystem, storeDir: String): Option[String] = {
    val p = new Path(s"$storeDir/$FormatFile")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** WRITER-side format discipline, called before every append: stamp
    * `tag` on a store that has no committed rows yet; verify it on a
    * stamped store; FAIL LOUDLY on a mismatch (the caller's bit
    * family is not what the store's rows encode — rebuild into a
    * fresh store) or on an UNSTAMPED store that already holds
    * committed segments (its rows' family is unknowable — same
    * remedy). Stamping is temp-file + rename; a lost race to an
    * identical tag is benign (re-verified by read-back). */
  def ensureFormat(fs: FileSystem, storeDir: String, tag: String): Unit =
    readFormat(fs, storeDir) match {
      case Some(t) if t == tag => ()
      case Some(t) => throw new IllegalStateException(
        s"store $storeDir is stamped format '$t' but this writer encodes " +
          s"'$tag' — mixed bit families never match in a band join; " +
          "rebuild the store under one family")
      case None =>
        if (liveBatchDirs(fs, storeDir).nonEmpty ||
            latestManifest(fs, storeDir).isDefined)
          throw new IllegalStateException(
            s"store $storeDir holds committed segments but no $FormatFile " +
              s"marker — its rows' bit family is unknown and this writer " +
              s"encodes '$tag'; rebuild the store to adopt stamping")
        val tmp = new Path(s"$storeDir/$FormatFile.tmp")
        val dst = new Path(s"$storeDir/$FormatFile")
        val out = fs.create(tmp, true)
        try out.write(s"$tag\n".getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, dst) && !readFormat(fs, storeDir).contains(tag))
          throw new IllegalStateException(
            s"format stamp failed: rename($tmp, $dst) returned false")
    }

  /** READER-side format discipline: a probe that interprets the
    * store's rows under `tag` fails loudly when the store is stamped
    * with a DIFFERENT family, or holds committed rows with no stamp
    * at all. An absent marker on an empty/nonexistent store passes —
    * there is nothing to misinterpret, and the first writer stamps
    * it. */
  def requireFormat(fs: FileSystem, storeDir: String, tag: String): Unit =
    readFormat(fs, storeDir) match {
      case Some(t) if t == tag => ()
      case Some(t) => throw new IllegalStateException(
        s"store $storeDir is stamped format '$t' but this reader expects " +
          s"'$tag' — a cross-family band join would silently miss; " +
          "rebuild the store under the expected family")
      case None =>
        if (liveBatchDirs(fs, storeDir).nonEmpty ||
            latestManifest(fs, storeDir).isDefined)
          throw new IllegalStateException(
            s"store $storeDir holds committed segments but no $FormatFile " +
              s"marker — its rows' bit family is unknown; expected '$tag'")
    }

  /** Write `batch` as the immutable live segment of `batchId` (no-op
    * if that segment is already committed — see the replay contract
    * above) and, when `compactEvery` divides the batch count, fold
    * live + the previous generation into a new one published by
    * manifest.
    *
    * @param partitionCol column the segment parquet is partitioned by
    *                     (readers prune on it).
    * @param dedupKeys    row identity for the compaction's
    *                     last-writer-wins rule — the newest batch's
    *                     row survives per key set. */
  def appendBatch(spark: SparkSession, storeDir: String, batch: DataFrame,
                  batchId: Long, compactEvery: Int,
                  partitionCol: String, dedupKeys: Seq[String]): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(s"$storeDir/live/b$batchId")
    if (!isCommitted(fs, dst)) {
      val tmp = new Path(s"$storeDir/live/.b${batchId}_tmp")
      fs.delete(tmp, true) // stale partial from a crashed attempt
      // the stamp is held by reference, not inlined: every batch of a
      // store then runs the same generated classes
      batch.withColumn(BatchCol, graft.expressions.HeldLiteral.of(batchId))
        .write.mode("overwrite").partitionBy(partitionCol)
        .parquet(tmp.toString)
      // dst here can only be an UNCOMMITTED partial (a committed one
      // short-circuits above); no reader resolves uncommitted dirs,
      // so the delete races nothing
      fs.delete(dst, true)
      if (!fs.rename(tmp, dst))
        throw new IllegalStateException(
          s"live segment commit failed: rename($tmp, $dst) returned false")
    }
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
      val (prevGen, prevUpTo) = latestManifest(fs, storeDir).getOrElse((-1L, -1L))
      val liveTail = liveBatchDirs(fs, storeDir)
        .filter { case (id, _) => id > prevUpTo && id <= batchId }
      val segs = liveTail.map(_._2) ++
        (if (prevGen >= 0) Seq(s"$storeDir/compacted_g$prevGen") else Nil)
      val gen = prevGen + 1
      // last-writer-wins fold: the newest BatchCol per key set
      // survives (the previous generation's rows keep their original
      // stamps, so the rule also holds across generations)
      val w = Window.partitionBy(dedupKeys.map(col): _*)
        .orderBy(col(BatchCol).desc)
      segs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
        .withColumn("_seg_rn", row_number().over(w))
        .filter(col("_seg_rn") === 1).drop("_seg_rn")
        .repartition(col(partitionCol))
        .write.mode("overwrite").partitionBy(partitionCol)
        .parquet(s"$storeDir/compacted_g$gen")
      publishManifest(fs, storeDir, gen, batchId)
      // grace GC, O(1) per compaction — drop only what the PREVIOUS
      // manifest stopped referencing: generation prevGen-1 (the one
      // dir a successful previous compaction left behind as ITS
      // grace copy) and live batches at or below the previous
      // watermark. An in-flight reader resolved against prevGen keeps
      // every dir it planned to scan. Best-effort: a failed delete —
      // or an orphan from a crash between publish and GC — costs
      // disk reclaimed by an offline sweep, never correctness, and
      // never a per-compaction O(generations) filesystem sweep on an
      // indefinitely-running streaming sink.
      if (prevGen > 0) {
        fs.delete(new Path(s"$storeDir/compacted_g${prevGen - 1}"), true)
        fs.delete(new Path(s"$storeDir/manifest_g${prevGen - 1}"), false)
      }
      liveBatchDirs(fs, storeDir).filter(_._1 <= prevUpTo).foreach { case (_, d) =>
        fs.delete(new Path(d), true)
      }
    }
  }

  /** A live segment is committed iff its rename landed AND the write
    * job finished (`_SUCCESS` marker, which the rename carries along)
    * — the two-part check that makes both a crash mid-write and a
    * crash mid-rename invisible to readers. */
  private def isCommitted(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** The store's CURRENT segment set, resolved through the manifest:
    * the newest compacted generation plus live batches past its
    * watermark (every live batch when no compaction has run yet).
    * Immutable segment dirs + grace-period GC make this list stable
    * for the lifetime of the reader that resolved it. */
  def segments(fs: FileSystem, storeDir: String): Seq[String] =
    latestManifest(fs, storeDir) match {
      case Some((gen, upTo)) =>
        s"$storeDir/compacted_g$gen" +:
          liveBatchDirs(fs, storeDir).filter(_._1 > upTo).map(_._2)
      case None => liveBatchDirs(fs, storeDir).map(_._2)
    }

  /** [[segments]] resolved and read as one DataFrame (empty segment
    * set is the caller's concern — this throws on an empty store).
    * Rows carry [[BatchCol]]; key collisions across the live tail are
    * NOT collapsed here (the fold collapses them at compaction) —
    * callers needing latest-wins over the raw union apply the
    * [[BatchCol]] rule themselves. */
  def read(spark: SparkSession, storeDir: String): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    segments(fs, storeDir).map(spark.read.parquet(_)).reduce(_.unionByName(_))
  }

  /** True iff the store's CURRENT segment set is a single folded
    * generation: a manifest exists and no committed live batch lies
    * past its watermark. The fold already applied the last-writer-wins
    * rule per its dedup keys when it wrote that generation, so a
    * reader whose LWW keys MATCH the fold's (every in-module caller
    * appends and reads under the same key set) needs NO runtime
    * row_number window over such a store — the keys are already
    * unique. Resolved from the manifest + segment listing alone, zero
    * Spark jobs (r19, guide §2.4: the routine maintained-store read
    * drops an exchange+sort per probe). */
  def isFullyCompacted(fs: FileSystem, storeDir: String): Boolean =
    latestManifest(fs, storeDir) match {
      case Some((_, upTo)) => liveBatchDirs(fs, storeDir).forall(_._1 <= upTo)
      case None => false
    }

  /** (gen, liveUpTo) of the highest-numbered `manifest_g<gen>`, or
    * None before the first compaction. */
  def latestManifest(fs: FileSystem, storeDir: String): Option[(Long, Long)] = {
    val dir = new Path(storeDir)
    if (!fs.exists(dir)) return None
    val gens = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("manifest_g") && !n.endsWith(".tmp"))
      .map(_.drop("manifest_g".length).toLong)
    if (gens.isEmpty) None
    else {
      val gen = gens.max
      val in = fs.open(new Path(s"$storeDir/manifest_g$gen"))
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      Some((gen, body.stripPrefix("liveUpTo=").toLong))
    }
  }

  /** (batchId, path) of every COMMITTED `live/b<id>` segment,
    * id-ascending — in-flight temp dirs (`.b<id>_tmp`) and renamed
    * but success-markerless partials are invisible to readers. */
  def liveBatchDirs(fs: FileSystem, storeDir: String): Seq[(Long, String)] = {
    val live = new Path(s"$storeDir/live")
    if (!fs.exists(live)) Nil
    else fs.listStatus(live).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("b") && isCommitted(fs, p))
      .map(p => (p.getName.drop(1).toLong, p.toString))
      .sortBy(_._1)
  }

  /** Publish `manifest_g<gen>` via temp-file + rename — the single
    * atomic commit of a compaction. A false from rename (how Hadoop
    * filesystems report rename failure) FAILS the batch so the caller
    * retries it, rather than leaving an orphaned generation invisible
    * to every reader. */
  private def publishManifest(fs: FileSystem, storeDir: String,
                              gen: Long, liveUpTo: Long): Unit = {
    val tmp = new Path(s"$storeDir/manifest_g$gen.tmp")
    val dst = new Path(s"$storeDir/manifest_g$gen")
    val out = fs.create(tmp, true)
    try out.write(s"liveUpTo=$liveUpTo\n".getBytes("UTF-8")) finally out.close()
    // dst exists only when THIS compaction is itself a crash-replay —
    // same gen, same fold, same content — so the delete is safe
    if (fs.exists(dst) && !fs.delete(dst, false))
      throw new IllegalStateException(s"manifest publish: could not replace $dst")
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(
        s"manifest publish failed: rename($tmp, $dst) returned false")
  }
}
