package graft.search

import org.apache.spark.ml.feature.{BucketedRandomProjectionLSH, BucketedRandomProjectionLSHModel}
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Batch-built ANN indexes over an embedding corpus — the engine's
  * answer to the reference's offline `CREATE VECTOR INDEX` provisioning
  * step (reference README.md:71-79; SURVEY.md §3 E3): an explicit Spark
  * job fits the index artifacts, persists them, and the query path
  * prunes candidates with them. Two classical structures:
  *
  *  - **BRP-LSH** (MLlib `BucketedRandomProjectionLSH`): on L2-normalized
  *    vectors, L2-NN ordering == cosine-NN ordering, so Euclidean LSH
  *    serves cosine search (BASELINE.json "MLlib for batch indexing").
  *  - **IVF** (inverted-file via seeded KMeans): coarse quantizer assigns
  *    each vector to a cell; a query probes the `nProbe` nearest cells
  *    and scores only those — at 100 TB the corpus is written
  *    partitioned by cell id, so a probe reads nProbe/k of the data.
  *
  * Both are seeded → deterministic, and recall-tested against the exact
  * brute-force path (SURVEY.md §5: approx paths are recall-checked, not
  * hash-checked — their internal hashes aren't portable to the oracle).
  */
object AnnIndex {

  /** L2-normalize and convert `embedding` ARRAY<FLOAT> to an ML vector
    * column `features` (unit norm ⇒ cosine and L2 orders agree). */
  def prepare(corpus: DataFrame, embCol: String = "embedding"): DataFrame =
    corpus.withColumn("features", array_to_vector(l2Normalize(col(embCol))))

  // ---------------------------------------------------------------
  // BRP-LSH
  // ---------------------------------------------------------------

  final case class BrpIndex(model: BucketedRandomProjectionLSHModel, hashed: DataFrame) {

    /** The exploded band view of [[hashed]] — one row per (vector,
      * hash table): (vec_id, embedding, sig ARRAY<DOUBLE>, t, b). Built
      * lazily ONCE per index and cached alongside it (when the index
      * itself is cached — one-shot `cache=false` builds stay
      * unmanaged-block-free), so repeated similarity joins in a session
      * pay join cost only, never the explode + vector-to-array rebuild:
      * the index is fitted once and probed many times (the reference's
      * CREATE-INDEX lifecycle), and the band table is part of the
      * index, not of any one probe. */
    lazy val banded: DataFrame = {
      val sigd = hashed.select(col("vec_id"), col("embedding"),
        transform(col("hashes"), v => element_at(vector_to_array(v), 1)).as("sig"))
      val b = sigd.select(col("vec_id"), col("embedding"), col("sig"),
        posexplode(col("sig"))).toDF("vec_id", "embedding", "sig", "t", "b")
      if (hashed.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        b.cache()
      else b
    }

    /** Top-k by cosine via the LSH candidate route. Returns
      * (vec_id, score) with the Neo4j (1+cos)/2 convention. */
    def topK(query: Array[Float], k: Int): DataFrame = {
      val qn = {
        val norm = math.sqrt(query.map(x => x.toDouble * x).sum)
        if (norm == 0) query.map(_.toDouble) else query.map(_ / norm)
      }
      val hits = model.approxNearestNeighbors(hashed, Vectors.dense(qn), k)
      // unit vectors: cos = 1 - d^2/2  ⇒  (1+cos)/2 = 1 - d^2/4
      hits.select(col("vec_id"),
        round(lit(1.0) - col("distCol") * col("distCol") / 4.0, 6).as("score"))
    }

    /** All pairs within cosine >= minCos via LSH similarity join. */
    def nearDupPairs(minCos: Double): DataFrame = {
      val maxDist = math.sqrt(2.0 * (1.0 - minCos)) // unit vectors
      model.approxSimilarityJoin(hashed, hashed, maxDist, "dist")
        .select(
          col("datasetA.vec_id").as("vec_a"),
          col("datasetB.vec_id").as("vec_b"),
          col("dist"))
        .filter(col("vec_a") < col("vec_b"))
    }

    /** The same verified pair set as [[nearDupPairs]] — candidates are
      * exactly the pairs sharing at least one hash-table bucket — but
      * emitted through a canonical-table bucket EQUI-join instead of
      * MLlib's OR-amplified join: a pair colliding in several tables
      * matches once per table, so the join also requires the matched
      * table to be the pair's lowest-index agreeing one — each
      * surviving pair exists exactly once and no distinct() shuffle of
      * the pair set is needed (the q19/q20 trick). Verification
      * (cosine >= minCos, evaluated on the raw embeddings with the
      * engine's scoring expression) sits INSIDE the join condition
      * after the cheap canonical check, so rejected candidates never
      * materialize and nothing passes through a non-codegen UDF.
      * Output: (vec_a, vec_b, score) with vec_a < vec_b, score the
      * (1+cos)/2 convention rounded to 6 dp. */
    def nearDupPairsCanonical(minCos: Double): DataFrame = {
      val numTables = model.getNumHashTables
      val bands = banded // memoized: repeated joins skip the explode rebuild
      val canonical = (0 until numTables).map { j =>
        lit(j) >= col("x.t") ||
          element_at(col("x.sig"), j + 1) =!= element_at(col("y.sig"), j + 1)
      }.reduce(_ && _)
      // r19 (guide §8 decide-small / attach-late; measured by
      // ScaleProbe --q72-anatomy): the band self-join iterates Σ m² row
      // combinations per (t, b) bucket — 24.0M iterations at sf0.1 —
      // and at minCos 0.4 the verified-candidate set is ~C(n,2), so the
      // rescore volume is recall-contract-bound, not tunable. What IS
      // tunable is the bytes each iteration carries: joining the slim
      // (vec_id, sig, t, b) decision columns and attaching the 64-float
      // payload to the canonical SURVIVORS only measured 4.01→2.82 s
      // warm with a bit-identical top-20. At 100 TB the same split
      // moves the payload through 2 corpus-keyed joins instead of 12×
      // through the banded bucket exchange. The exact-score filter is
      // unchanged (same neo4jScore expression, same rounding) — it just
      // runs after the attach instead of inside the band join.
      val slim = bands.select(col("vec_id"), col("sig"), col("t"), col("b"))
      val pairs = slim.alias("x").join(slim.alias("y"),
          col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
            col("x.vec_id") < col("y.vec_id") && canonical)
        .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      val score = neo4jScore(col("ea"), col("eb"))
      pairs
        .join(hashed.select(col("vec_id").as("vec_a"),
          col("embedding").as("ea")), "vec_a")
        .join(hashed.select(col("vec_id").as("vec_b"),
          col("embedding").as("eb")), "vec_b")
        .filter(score >= lit((1.0 + minCos) / 2.0))
        .select(col("vec_a"), col("vec_b"), round(score, 6).as("score"))
    }
  }

  /** Fit a BRP-LSH index. `bucketLength` ~ 2–4 works for unit vectors;
    * more tables → higher recall, more candidate I/O.
    * @param cache cache the hashed table for repeated probes; pass
    *              false for one-shot queries so no unmanaged cached
    *              blocks outlive the call. */
  def buildBrp(corpus: DataFrame, numTables: Int = 5, bucketLength: Double = 2.0,
               seed: Long = 42L, cache: Boolean = true): BrpIndex = {
    val prepared = prepare(corpus)
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numTables).setBucketLength(bucketLength).setSeed(seed)
    val model = lsh.fit(prepared)
    val hashed = model.transform(prepared)
    BrpIndex(model, if (cache) hashed.cache() else hashed)
  }

  /** Session-scoped memo of fitted BRP indexes — the in-session
    * analogue of the persisted artifacts ([[saveBrp]]/[[loadBrp]]).
    * The reference's index is CREATEd once and probed by every query
    * (reference README.md:71-79); re-fitting per probe would charge
    * the build to every caller. Keyed by session identity so test
    * sessions and the Verify/Bench session never share cached plans;
    * the memoized hashed table is cached for repeated probes. Keyed by
    * the context's applicationId and evicted when the context ends
    * ([[graft.SessionMemo]]): a fitted model and its cached table are
    * only valid within the SparkContext that built them, and must not
    * outlive it either. */
  private[graft] val sessionIndexes = new graft.SessionMemo[(String, Int), BrpIndex]

  def sessionBrp(s: SparkSession, key: String, corpus: => DataFrame,
                 numTables: Int): BrpIndex =
    sessionIndexes.getOrCompute(s, (key, numTables))(
      buildBrp(corpus, numTables = numTables))

  /** Persist a BRP index as reusable artifacts — the engine's
    * `CREATE VECTOR INDEX` equivalent (reference README.md:71-79): the
    * fitted model + the hashed corpus as a Parquet bucket table. A
    * 100 TB deployment would additionally partition the bucket table by
    * hash bucket so probes read only matching directories. */
  def saveBrp(idx: BrpIndex, dir: String): Unit = {
    idx.model.write.overwrite().save(s"$dir/model")
    idx.hashed.drop("features", "hashes") // vector columns don't round-trip parquet
      .write.mode("overwrite").parquet(s"$dir/corpus")
  }

  /** Reload persisted index artifacts; the hashed table is recomputed
    * from the stored corpus by the loaded (deterministic) model. */
  def loadBrp(spark: SparkSession, dir: String): BrpIndex = {
    val model = BucketedRandomProjectionLSHModel.load(s"$dir/model")
    val corpus = spark.read.parquet(s"$dir/corpus")
    BrpIndex(model, model.transform(prepare(corpus)).cache())
  }

  // ---------------------------------------------------------------
  // IVF (inverted file over a KMeans coarse quantizer)
  // ---------------------------------------------------------------

  final case class IvfIndex(model: KMeansModel, assigned: DataFrame) {

    /** Probe the `nProbe` nearest cells, exact-score inside them. */
    def topK(query: Array[Float], k: Int, nProbe: Int = 4): DataFrame = {
      val qn = {
        val norm = math.sqrt(query.map(x => x.toDouble * x).sum)
        if (norm == 0) query.map(_.toDouble) else query.map(_ / norm)
      }
      val centers = model.clusterCenters
      val probed = centers.zipWithIndex
        .map { case (c, i) => (i, Vectors.sqdist(Vectors.dense(qn), c)) }
        .sortBy(_._2).take(nProbe).map(_._1).toSeq
      assigned
        .filter(col("cell").isin(probed: _*))
        .withColumn("score", round(neo4jScore(col("embedding"), typedLit(query.toSeq)), 6))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(k)
        .select(col("vec_id"), col("cell"), col("score"))
    }
  }

  /** KMeans input partitioning — a CONSTANT, not defaultParallelism:
    * k-means|| seeds its per-partition sampling from the partition
    * index, so the fitted quantizer is a function of the input's
    * partitioning, not just its rows. Hash-repartitioning on vec_id
    * into a fixed count (and sorting within partitions) makes the
    * model a pure function of the DATA — invariant to file layout,
    * file count, and session parallelism. Measured: without this, a
    * 12-file rewrite of the same sf0.1 fixture produced a different
    * quantizer and broke q75's fail-closed recall (ScaleProbe
    * --multifile, SCALING.md round 10). */
  val IvfFitPartitions = 32

  /** Fit an IVF index: seeded KMeans over normalized vectors; the
    * corpus gains a `cell` column (at scale: the partition key).
    * @param cache cache the assigned table for repeated probes; pass
    *              false for one-shot queries so no unmanaged cached
    *              blocks outlive the call.
    * @param maxIter KMeans iterations; a coarse quantizer does not need
    *                convergence — cells only gate which vectors are
    *                exact-scored, so fewer iterations trade a little
    *                recall for a much cheaper (offline) build.
    * @param initMode "k-means||" (default, better spread) or "random"
    *                 (one fewer pass over the data). */
  def buildIvf(corpus: DataFrame, cells: Int = 16, seed: Long = 7L,
               cache: Boolean = true, maxIter: Int = 10,
               initMode: String = "k-means||"): IvfIndex = {
    val prepared = prepare(corpus)
      .repartition(IvfFitPartitions, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
    val km = new KMeans().setK(cells).setSeed(seed).setMaxIter(maxIter)
      .setInitMode(initMode)
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = km.fit(prepared)
    val assigned = model.transform(prepared)
    IvfIndex(model, if (cache) assigned.cache() else assigned)
  }

  /** THE cell-partitioned writer every artifact corpus and delta
    * segment goes through ([[saveIvf]], [[saveIvfPq]],
    * [[saveIvfPqResidual]], [[majorCompact]], the q153 compacted
    * segment): `df` written PARTITIONED BY `cell` after a REBALANCE on
    * `cell`. The rebalance sends each cell's rows to one shuffle
    * partition, so a small corpus lands as one file per cell (2,000
    * rows from the 32 KMeans fit partitions: 16 files instead of 471
    * when every upstream partition wrote its own slice of every cell);
    * at scale adaptive execution splits a cell past the advisory
    * partition size into several advisory-size files instead of
    * sending the whole cell through one task, which is what a plain
    * `repartition(cell)` does. */
  private[graft] def writeByCell(df: DataFrame, dir: String): Unit =
    df.hint("rebalance", col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)

  /** Persist an IVF index as the 100 TB layout this file's scaladoc
    * promises: the KMeans quantizer plus the corpus written PARTITIONED
    * BY cell ([[writeByCell]]), so a probe's `cell IN (...)` predicate
    * becomes partition pruning — nProbe/cells of the directories are
    * ever listed, let alone read. */
  def saveIvf(idx: IvfIndex, dir: String): Unit = {
    idx.model.write.overwrite().save(s"$dir/model")
    // ML vectors don't round-trip parquet
    writeByCell(idx.assigned.drop("features"), s"$dir/corpus")
  }

  /** Probe a PERSISTED IVF index straight off its parquet layout: pick
    * the nProbe cells nearest the query from the reloaded quantizer,
    * then exact-score only the matching cell partitions. The returned
    * frame's scan carries `cell` as a PartitionFilter (spec-asserted),
    * which is the property that bounds a 100 TB probe's I/O. */
  def probeIvf(spark: SparkSession, dir: String, query: Array[Float],
               k: Int, nProbe: Int = 4): DataFrame = {
    val probed = probedCells(spark, dir, query, nProbe)
    spark.read.parquet(s"$dir/corpus")
      .filter(col("cell").isin(probed: _*))
      .withColumn("score", round(neo4jScore(col("embedding"), typedLit(query.toSeq)), 6))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id"), col("cell"), col("score"))
  }

  // ---------------------------------------------------------------
  // IVF-PQ (cell-partitioned corpus + product-quantization codes)
  // ---------------------------------------------------------------

  /** Persist the COMPOSED billion-scale layout (Jégou et al. 2011):
    * [[saveIvf]]'s cell-partitioned corpus, with each row additionally
    * carrying its PQ code — the m per-subspace nearest-cell ids,
    * computed ONCE at write time against the supplied codebooks
    * (`codebooks(sub)(cell)` = centroid vector; fitted by the caller,
    * e.g. [[graft.operators.SemDedup.fit]] per 16-dim slice). The
    * codebooks themselves persist as a tiny (sub, cell, ce) parquet so
    * a probe can rebuild its lookup tables without refitting. At scale
    * the probe reads only the probed cell directories, ranking each
    * row by its codes and scoring it exactly in the same pass
    * ([[probeIvfPq]]). The corpus goes through [[writeByCell]] (one
    * file per cell at fixture size), and the same write pass observes
    * the epoch's mean PQ distortion into `stats`
    * ([[writeCorpusAndStats]]) — no second scan. */
  def saveIvfPq(idx: IvfIndex, codebooks: Seq[Seq[Seq[Double]]], subDim: Int,
                dir: String): Unit = {
    idx.model.write.overwrite().save(s"$dir/model")
    writeCorpusAndStats(withPqCodes(idx.assigned.drop("features"), "embedding",
      codebooks, subDim), codebooks, dir)
    val spark = idx.assigned.sparkSession
    import spark.implicits._
    codebooks.zipWithIndex
      .flatMap { case (cents, sub) =>
        cents.zipWithIndex.map { case (ce, cell) => (sub, cell, ce) }
      }
      .toDF("sub", "cell", "ce")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Session memo of loaded coarse quantizers keyed by artifact dir.
    * Artifacts are write-once per session (the session builders) or
    * land in fresh directories (majorCompact, specs), so a loaded
    * model is immutable for its key's lifetime — memoizing drops the
    * driver-side model read (a small Spark job) from EVERY probe call
    * and every streaming encode micro-batch. Evicted with the
    * application ([[graft.SessionMemo]]). */
  private val sessionQuantizers = new graft.SessionMemo[String, KMeansModel]

  private[graft] def loadQuantizer(spark: SparkSession, dir: String): KMeansModel =
    sessionQuantizers.getOrCompute(spark, s"$dir/model")(
      KMeansModel.load(s"$dir/model"))

  /** Session memo of COLLECTED codebook tables keyed by artifact dir
    * (sub → rows sorted by cell) — same immutability argument as
    * [[sessionQuantizers]]; drops a parquet-read job per probe. */
  private val sessionCodebooks =
    new graft.SessionMemo[String, Map[Int, Seq[Seq[Double]]]]

  private[graft] def loadCodebooks(spark: SparkSession,
                                   dir: String): Map[Int, Seq[Seq[Double]]] =
    sessionCodebooks.getOrCompute(spark, s"$dir/codebooks") {
      spark.read.parquet(s"$dir/codebooks")
        .select(col("sub"), col("cell"), col("ce")).collect()
        .groupBy(_.getInt(0))
        .map { case (sub, rows) =>
          sub -> rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toSeq).toSeq
        }
    }

  /** The `nProbe` artifact cells nearest the (normalized) query under
    * the reloaded quantizer — [[probeIvf]]'s driver-side ranking,
    * shared with [[probeIvfPq]] and the `--ivfpq-tune` probe. */
  private[graft] def probedCells(spark: SparkSession, dir: String,
                                 query: Array[Float],
                                 nProbe: Int): Seq[Int] = {
    val model = loadQuantizer(spark, dir)
    val qn = {
      val norm = math.sqrt(query.map(x => x.toDouble * x).sum)
      if (norm == 0) query.map(_.toDouble) else query.map(_ / norm)
    }
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, Vectors.sqdist(Vectors.dense(qn), c)) }
      .sortBy(_._2).take(nProbe).map(_._1).toSeq
  }

  /** The ADC distance COLUMN for a query against a persisted IVF-PQ
    * artifact's code columns: per subspace a ≤k-entry lookup table
    * (query-vs-codebook squared distances, built driver-side from the
    * tiny persisted codebooks), summed — evaluating it touches only
    * `c0..c{m-1}`, never the raw vectors. */
  private[graft] def adcDistanceCol(spark: SparkSession, dir: String,
                                    query: Array[Float]): org.apache.spark.sql.Column = {
    val cb = loadCodebooks(spark, dir)
    val subs = cb.keys.toSeq.sorted
    val subDim = query.length / subs.size
    subs.map { sub =>
      val cents = cb(sub)
      val qSub = query.map(_.toDouble).slice(sub * subDim, (sub + 1) * subDim)
      val lut = cents.map(c => qSub.zip(c)
        .foldLeft(0.0) { case (acc, (a, b)) => acc + (a - b) * (a - b) }).toSeq
      element_at(typedLit(lut), col(s"c$sub") + 1)
    }.reduce(_ + _)
  }

  /** The engine's exact score of a row's `embedding` against `query`:
    * (1+cos)/2, rounded to 6 places — every probe's final ranking key. */
  private def exactScore(query: Array[Float]): Column =
    round(neo4jScore(col("embedding"), typedLit(query.toSeq)), 6)

  /** The one-pass tail every single-query IVF-PQ probe shares. `scored`
    * is one scan of the probed cells whose rows carry `adc_d` (the
    * code-only estimate) and `score` (the exact score) side by side;
    * the shortlist keeps the `shortlist` best by (adc_d, vec_id) — a
    * TakeOrderedAndProject: a heap per partition, merged once on a
    * single partition — and the answer is its top `k` by (score desc,
    * vec_id). One Spark job, no join back onto the cells. */
  private def shortlistTopK(scored: DataFrame, k: Int, shortlist: Int,
                            out: Seq[Column]): DataFrame =
    scored
      .orderBy(col("adc_d").asc, col("vec_id").asc)
      .limit(shortlist)
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
      .select(out :+ col("score"): _*)

  /** Probe a persisted IVF-PQ artifact — the composed read path the
    * layout exists for: (1) rank the reloaded quantizer's centers,
    * keep the `nProbe` nearest cells; (2) scan those cells once
    * (partition pruning on `cell`), giving each row its ADC distance
    * from the query's per-subspace lookup tables over its codes AND
    * its exact score under the engine's (1+cos)/2 convention; (3) keep
    * the `shortlist` best by (adc distance, vec_id) and return their
    * top `k` by exact score ([[shortlistTopK]]). Recall is exact iff
    * every true top-k member survives both the cell pruning AND the
    * ADC shortlist; the declared oracle (exact top-k) fails closed on
    * either miss, and `--ivfpq-tune` re-measures both minima.
    *
    * `predicate` is the FILTERED-ANN hook (every production vector
    * store's metadata filter — Qdrant payloads, Milvus scalar fields):
    * a predicate over the artifact's persisted payload columns, applied
    * INSIDE the artifact scan (it reaches the parquet reader as a
    * PushedFilter under the cell PartitionFilter, so row groups of
    * non-qualifying rows are skipped by their column statistics) — the
    * PRE-filter strategy: the ADC shortlist ranks qualifying rows only,
    * so a selective filter cannot starve the top-k the way
    * oversample-then-post-filter can. The default `lit(true)` folds
    * away at optimization time and leaves the unfiltered plan
    * bit-identical. A caller holding a small tombstone id set folds it
    * in here as `!vec_id.isin(ids)` — a filter in the scan's stage, no
    * join. `payload` names persisted columns to carry into the output.
    *
    * `exclude`, when given, is a frame of `vec_id`s anti-joined into
    * the scan BEFORE any ranking — the tombstone hook for sets too
    * large to hold: excluded ids can never shortlist, so the top-k
    * back-fills with live rows exactly (no oversample-then-drop
    * under-fill). The join takes `exclude` as given, hint included.
    * `artifact` is the artifact's `corpus` relation when the caller
    * already holds one (a serving snapshot), so the probe skips
    * re-resolving it. */
  def probeIvfPq(spark: SparkSession, dir: String, query: Array[Float],
                 k: Int, nProbe: Int, shortlist: Int,
                 predicate: Column = lit(true),
                 payload: Seq[String] = Nil,
                 exclude: Option[DataFrame] = None,
                 artifact: Option[DataFrame] = None): DataFrame = {
    val probed = probedCells(spark, dir, query, nProbe)
    val pruned = artifact.getOrElse(spark.read.parquet(s"$dir/corpus"))
      .filter(col("cell").isin(probed: _*))
      .filter(predicate)
    val live = exclude.fold(pruned)(pruned.join(_, Seq("vec_id"), "left_anti"))
    val out = col("vec_id") +: payload.map(col)
    shortlistTopK(live.select(out :+ adcDistanceCol(spark, dir, query).as("adc_d") :+
      exactScore(query).as("score"): _*), k, shortlist, out)
  }

  /** Persist the RESIDUAL-encoded IVF-PQ layout — IVFADC proper (Jégou
    * et al. 2011 §III-C): PQ quantizes the residual `xn − c_cell` of
    * the L2-NORMALIZED vector after coarse quantization, not the raw
    * vector. Residuals concentrate near the origin (the coarse step
    * has already explained the between-cell variance), so the same
    * code budget spends its resolution on what the cell id doesn't
    * already say; and because ‖qn − xn‖² = 2 − 2·cos on unit vectors,
    * the ADC estimate now approximates the TRUE ranking metric rather
    * than a raw-space surrogate. Same artifact layout as [[saveIvfPq]]
    * (model + cell-partitioned corpus with code columns + tiny
    * codebooks parquet); the difference is what the codes mean, which
    * only the paired probe ([[probeIvfPqResidual]]) needs to know —
    * its lookup tables become per-(cell, code) instead of per-code.
    * Codebooks are fitted HERE (per-subspace deterministic Lloyd's on
    * residual slices) because residuals only exist after the coarse
    * assignment. */
  def saveIvfPqResidual(idx: IvfIndex, subDim: Int, pqK: Int, pqIters: Int,
                        dir: String): Unit = {
    val spark = idx.assigned.sparkSession
    import spark.implicits._
    val centers = idx.model.clusterCenters.map(_.toArray.toSeq).toSeq
    val m = centers.head.size / subDim
    val resid = zip_with(
      l2Normalize(col("embedding")),
      element_at(typedLit(centers), col("cell") + 1),
      (a, b) => a - b)
    // the m per-subspace fits + code assignments + the final write make
    // ~3m+1 passes over the residuals; materialize them ONCE for the
    // build's duration (build-time only — the artifact itself persists
    // codes, never residuals)
    val based = idx.assigned.drop("features").withColumn("resid", resid).persist()
    try {
      val codebooks = (0 until m).map { sub =>
        graft.operators.SemDedup.fit(
          based.select(col("vec_id"),
            slice(col("resid"), sub * subDim + 1, subDim).as("embedding")),
          pqK, pqIters)
      }
      val withCodes = withPqCodes(based, "resid", codebooks, subDim).drop("resid")
      idx.model.write.overwrite().save(s"$dir/model")
      writeByCell(withCodes, s"$dir/corpus")
      codebooks.zipWithIndex
        .flatMap { case (cents, sub) =>
          cents.zipWithIndex.map { case (ce, cell) => (sub, cell, ce) }
        }
        .toDF("sub", "cell", "ce")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    } finally based.unpersist()
  }

  /** The residual-ADC distance COLUMN: per subspace a per-(cell, code)
    * lookup table — entry (cell, j) = ‖(qn − c_cell)_sub − cb_sub(j)‖²,
    * built driver-side from the quantizer centers and the tiny
    * persisted codebooks (cells × pqK × m doubles — at 16×16×4 that is
    * 1024 literals), flattened so the row's partition column `cell`
    * and its code pick the entry: still pure row-local codegen, zero
    * joins, and the raw vectors never enter the evaluating scan. */
  private[graft] def adcResidualDistanceCol(spark: SparkSession, dir: String,
                                            query: Array[Float]): Column = {
    val centers = loadQuantizer(spark, dir)
      .clusterCenters.map(_.toArray)
    val qn = {
      val n = math.sqrt(query.map(x => x.toDouble * x).sum)
      if (n == 0) query.map(_.toDouble) else query.map(_ / n)
    }
    val cb = loadCodebooks(spark, dir)
    val subs = cb.keys.toSeq.sorted
    val subDim = qn.length / subs.size
    subs.map { sub =>
      val cents = cb(sub)
      val pqK = cents.size
      val lut: Seq[Double] = centers.indices.flatMap { cell =>
        val qr = qn.zip(centers(cell)).map { case (a, b) => a - b }
          .slice(sub * subDim, (sub + 1) * subDim)
        cents.map(c => qr.zip(c)
          .foldLeft(0.0) { case (acc, (a, b)) => acc + (a - b) * (a - b) })
      }.toSeq
      element_at(typedLit(lut), col("cell") * pqK + col(s"c$sub") + 1)
    }.reduce(_ + _)
  }

  /** Probe a RESIDUAL-encoded IVF-PQ artifact — [[probeIvfPq]]'s plan
    * shape (one cell-pruned scan → bounded ADC shortlist → exact top-k)
    * with [[adcResidualDistanceCol]] as the estimator. */
  def probeIvfPqResidual(spark: SparkSession, dir: String, query: Array[Float],
                         k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    val probed = probedCells(spark, dir, query, nProbe)
    shortlistTopK(spark.read.parquet(s"$dir/corpus")
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"), adcResidualDistanceCol(spark, dir, query).as("adc_d"),
        exactScore(query).as("score")), k, shortlist, Seq(col("vec_id")))
  }

  /** Encode NEW rows into an EXISTING IVF-PQ artifact's geometry — the
    * write half of LSM minor compaction: the artifact's quantizer
    * assigns each row's cell and its persisted codebooks assign the PQ
    * codes, with NO refitting (exactly what a store does when a delta
    * segment graduates into the index between full rebuilds; the main
    * segment's files are never touched). Output carries the input
    * columns + `cell` + `c0..c{m-1}` — write it through [[writeByCell]]
    * and it probes like the main corpus. Cost is O(delta): one pass
    * over the new rows against broadcast-literal centers/codebooks. */
  def encodeSegment(spark: SparkSession, indexDir: String, rows: DataFrame): DataFrame = {
    val model = loadQuantizer(spark, indexDir)
    val codebooks = codebookList(spark, indexDir)
    // the loaded quantizer itself assigns cells (predictionCol "cell"
    // persisted at fit time) — bit-identical to the main build's
    // assignment, so one cell ranking serves every segment
    withPqCodes(model.transform(prepare(rows)).drop("features"), "embedding",
      codebooks, codebooks.head.head.size)
  }

  /** `df` plus its PQ code columns `c0..c{m-1}`: code `sub` is the
    * nearest centroid of `codebooks(sub)` to the `subDim`-wide slice
    * `sub` of column `src` — the ONE encoding every artifact writer
    * ([[saveIvfPq]], [[saveIvfPqResidual]]) and the ingest
    * ([[encodeSegment]]) share. */
  private[graft] def withPqCodes(df: DataFrame, src: String,
                                 codebooks: Seq[Seq[Seq[Double]]], subDim: Int): DataFrame =
    codebooks.zipWithIndex.foldLeft(df) { case (acc, (cents, sub)) =>
      acc.withColumn(s"c$sub", graft.operators.SemDedup.assignCell(
        slice(col(src), sub * subDim + 1, subDim), cents))
    }

  /** Probe SEVERAL cell-partitioned segments that share ONE quantizer +
    * codebook set (a main artifact plus [[encodeSegment]]-graduated
    * deltas — the post-minor-compaction read path): every segment scan
    * is pruned to the same probed cells (one quantizer ⇒ one cell
    * ranking serves all segments), each segment's one scan gives its
    * rows their ADC distance and exact score, and one shortlist ranks
    * the union ([[shortlistTopK]]). `payload` columns (e.g. a
    * per-segment origin marker) ride the scans into the output. A
    * `vec_id` present in two segments is two rows, each ranked on its
    * own. */
  def probeIvfPqSegments(spark: SparkSession, indexDir: String,
                         segments: Seq[DataFrame], query: Array[Float],
                         k: Int, nProbe: Int, shortlist: Int,
                         payload: Seq[String] = Nil): DataFrame = {
    val probed = probedCells(spark, indexDir, query, nProbe)
    val adc = adcDistanceCol(spark, indexDir, query)
    val out = col("vec_id") +: payload.map(col)
    shortlistTopK(segments
      .map(_.filter(col("cell").isin(probed: _*))
        .select(out :+ adc.as("adc_d") :+ exactScore(query).as("score"): _*))
      .reduce(_.unionByName(_)), k, shortlist, out)
  }

  /** Append one encoded micro-batch to an LSM-maintained IVF-PQ delta
    * and, every `compactEvery` batches, fold the accumulated live
    * segments into a new immutable COMPACTED generation — the
    * maintenance step [[graft.search.SearchEngine.streamingIvfPqMaintain]]
    * runs per micro-batch. Layout under `deltaDir`:
    *
    *  - `live/b<batchId>/` — one immutable cell-partitioned parquet
    *    segment PER BATCH, committed by temp-dir + rename: an
    *    at-least-once replay of an already-committed batch is a NO-OP
    *    (encodeSegment is deterministic, so the committed directory
    *    already holds exactly the replay's rows) — the idempotence
    *    foreachBatch's delivery contract requires, without appending
    *    duplicate rows or recycling a directory a reader may be
    *    scanning. Only an uncommitted partial is ever rewritten. A
    *    committed segment dir therefore never changes content, which
    *    is what lets [[graft.search.SearchEngine]]'s serving snapshot
    *    key its cached relations and live-delta rows by segment paths
    *    alone.
    *  - `compacted_g<gen>/` — immutable folded generations: each
    *    compaction unions the previous generation with the live tail,
    *    dedups on vec_id (the backstop that keeps rows from a batch
    *    replayed across a crashed compaction from surviving twice),
    *    consolidates by cell, and writes a NEW generation directory —
    *    never mutating one a concurrent probe may be scanning.
    *  - `manifest_g<gen>` — the atomic publish: a tiny file naming the
    *    generation's live watermark (`liveUpTo=<batchId>`), written
    *    under a temp name and renamed into place (single-file rename
    *    to a fresh name — atomic on HDFS and posix alike). The
    *    rename's boolean result is CHECKED: a false fails the batch
    *    loudly so foreachBatch retries it, instead of silently
    *    serving probes a stale segment set. Readers take the
    *    highest-numbered manifest.
    *
    * Probes ([[probeIvfPqLsm]]) resolve segments through the manifest:
    * newest compacted generation + live batches past its watermark.
    * GC is grace-period: a compaction deletes only generations and
    * live dirs that the PREVIOUS manifest no longer references, so a
    * probe that resolved its segment list against the previous
    * manifest still finds every directory it planned to scan — the
    * manifest-per-generation answer (Iceberg/LSM snapshot isolation)
    * to the probe-vs-compaction race. The fold bounds per-probe file
    * count: O(1) generations plus the current live tail, the LSM
    * write-amplification trade every store makes. The layout and its
    * invariants live in [[graft.sources.SegmentStore]] — the same
    * store maintains the media band indexes' graduation path. */
  def appendDeltaBatch(spark: SparkSession, indexDir: String, deltaDir: String,
                       batch: DataFrame, batchId: Long, compactEvery: Int): Unit =
    graft.sources.SegmentStore.appendBatch(spark, deltaDir,
      encodeSegment(spark, indexDir, batch), batchId, compactEvery,
      partitionCol = "cell", dedupKeys = Seq("vec_id"))

  /** Append one micro-batch of DELETE markers to the delta's tombstone
    * store (`deltaDir/tombstones` — its own [[graft.sources.SegmentStore]],
    * same commit/fold/GC discipline as the vector segments; rows are
    * just ids, bucketed for partitioning). A tombstone shadows the
    * MAIN artifact's row for that id forever (the main files are
    * immutable between major rebuilds — the marker IS the delete) and
    * shadows delta rows from EARLIER batches; a later re-ingest of the
    * id serves again (latest-op-wins, put wins a same-batch tie). The
    * store stays tiny by contract: a major fold (delta → main rewrite)
    * is where tombstoned keys disappear physically. */
  def appendTombstones(spark: SparkSession, deltaDir: String,
                       ids: DataFrame, batchId: Long, compactEvery: Int): Unit =
    graft.sources.SegmentStore.appendBatch(spark, s"$deltaDir/tombstones",
      ids.select(col("vec_id"))
        .withColumn("bucket", pmod(col("vec_id"), lit(16L))),
      batchId, compactEvery,
      partitionCol = "bucket", dedupKeys = Seq("vec_id"))

  /** The delta's live tombstones as (vec_id, del_batch = newest delete
    * batch per id); None when the store doesn't exist (no delete has
    * ever been applied — the common case costs one existence check) OR
    * exists but holds no COMMITTED segment yet: a reader racing the
    * store's very first append sees the directory before the segment
    * rename lands, and must treat the store as empty rather than read
    * an empty segment set (caught by the fold soak — the uncommitted
    * window is real under concurrency). */
  def tombstones(spark: SparkSession, deltaDir: String): Option[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dir = s"$deltaDir/tombstones"
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir))) None
    else {
      val segs = graft.sources.SegmentStore.segments(fs, dir)
      if (segs.isEmpty) None
      else Some(lastDeletes(segs.map(spark.read.parquet(_)).reduce(_.unionByName(_))))
    }
  }

  /** A tombstone store's raw rows folded to (vec_id, del_batch = newest
    * delete batch per id) — the shape every tombstone shadow joins. */
  private[graft] def lastDeletes(tombstoneRows: DataFrame): DataFrame =
    tombstoneRows.groupBy(col("vec_id"))
      .agg(max(col(graft.sources.SegmentStore.BatchCol)).as("del_batch"))

  /** The delta's CURRENT segment set — [[graft.sources.SegmentStore.segments]]. */
  private[graft] def deltaSegments(fs: org.apache.hadoop.fs.FileSystem,
                                   deltaDir: String): Seq[String] =
    graft.sources.SegmentStore.segments(fs, deltaDir)

  /** Probe an LSM-maintained index: MAIN artifact ∪ the delta's
    * manifest-resolved segment set — q150's main+delta read
    * generalized to the [[appendDeltaBatch]] layout, all segments
    * sharing the main quantizer/codebooks so ONE cell ranking prunes
    * every scan ([[probeIvfPqSegments]]).
    *
    * Delete/update semantics (latest-op-wins): live tombstones shadow
    * the main artifact's rows outright (the corpus is an implicit put
    * older than any delete) and delta rows from batches at or below
    * the delete's; a later re-ingest serves again. Id twins across
    * delta batches resolve to the newest batch's row — the same rule
    * the store's fold applies, here over the unfolded live tail, so
    * pre- and post-compaction probes agree. Both guards are broadcast
    * anti/filter joins applied BEFORE any ranking, so the top-k
    * back-fills exactly. */
  def probeIvfPqLsm(spark: SparkSession, indexDir: String, deltaDir: String,
                    query: Array[Float], k: Int, nProbe: Int,
                    shortlist: Int): DataFrame =
    // column pruning happens inside probeIvfPqSegments' selects, so
    // differing payload columns across segments are harmless
    probeIvfPqSegments(spark, indexDir,
      lsmLiveSegments(spark, indexDir, deltaDir), query, k, nProbe, shortlist)

  /** Ceiling on the tombstone store's ON-DISK mass up to which the
    * probe-side exclusion joins broadcast the tombstone set; past it
    * the hint is withheld and the planner runs a shuffle anti-join
    * instead — graceful degradation, never a driver OOM from an
    * unconditional hint. Raw segment bytes upper-bound the resolved
    * distinct set (~6–11 B per scattered id in parquet). MEASURED
    * (`bench/tombstone_probe_r15.json`, 200 k-corpus LSM probe,
    * scattered ids): broadcast is flat to ~1 M tombstones (2.0 s),
    * costs 7.5 s at 10 M, while the sort-merge fallback runs 3.6 s at
    * 20 M — so the ceiling sits at the measured crossover (~2.5 M
    * ids), not at driver-safety's edge. A store anywhere NEAR it is
    * past the point where a major fold should already have dropped
    * the ids physically
    * ([[graft.queries.AnnQueries.TombstoneFoldRows]]). */
  val TombstoneBroadcastMaxBytes: Long = 16L << 20

  /** The exclusion-join hint for this delta's tombstone set:
    * `broadcast` while the store's raw bytes (filesystem metadata
    * only — no job) stay under [[TombstoneBroadcastMaxBytes]],
    * identity past it. Shared by every tombstone-excluding read path
    * (the LSM probes here, the exact routes and the serving snapshot
    * in SearchEngine). */
  private[graft] def tombstoneHint(spark: SparkSession,
                                   deltaDir: String): DataFrame => DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    tombstoneHint(fs, graft.sources.SegmentStore.segments(fs, s"$deltaDir/tombstones"))
  }

  /** [[tombstoneHint]] over an already-resolved tombstone segment
    * listing (a caller that holds the listing skips re-resolving it). */
  private[graft] def tombstoneHint(fs: org.apache.hadoop.fs.FileSystem,
                                   segments: Seq[String]): DataFrame => DataFrame = {
    val bytes = segments
      .map(p => fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength)
      .sum
    if (bytes <= TombstoneBroadcastMaxBytes) broadcast(_) else identity
  }

  /** THE definition of what an LSM-maintained index currently SERVES —
    * the live segment frames: the main artifact minus tombstoned ids,
    * plus the delta's manifest-resolved rows after latest-batch-wins
    * and tombstone shadowing (put wins a same-batch tie). One
    * resolution shared by [[probeIvfPqLsm]] (per probe), a query batch
    * that resolves once and probes many times (q176's standing eval),
    * and [[majorCompact]] — the fold rewrites exactly these frames,
    * which is WHY post-fold probes equal pre-fold probes by
    * construction. Delta frames keep their
    * [[graft.sources.SegmentStore.BatchCol]] stamp (consumers that
    * persist them drop it). */
  def lsmLiveSegments(spark: SparkSession, indexDir: String,
                      deltaDir: String): Seq[DataFrame] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val batchCol = graft.sources.SegmentStore.BatchCol
    val dels = tombstones(spark, deltaDir)
    val hint = if (dels.isEmpty) identity[DataFrame] _
      else tombstoneHint(spark, deltaDir)
    val main = spark.read.parquet(s"$indexDir/corpus")
    val mainLive = dels match {
      case None => main
      case Some(d) =>
        main.join(hint(d.select(col("vec_id"))), Seq("vec_id"), "left_anti")
    }
    val deltaDirs = deltaSegments(fs, deltaDir)
    val deltaLive = if (deltaDirs.isEmpty) Nil else {
      val raw = deltaDirs.map(spark.read.parquet(_)).reduce(_.unionByName(_))
      // r19: a fully-compacted delta already holds one row per vec_id
      // (the fold applied latest-batch-wins when it published the
      // generation, keeping each survivor's original batch stamp) —
      // skip the runtime LWW window (an exchange + sort per probe)
      // whenever the manifest proves no live tail exists; deltas with
      // a live tail keep it. Same rule as the media band stores.
      val lww =
        if (graft.sources.SegmentStore.isFullyCompacted(fs, deltaDir)) raw
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("vec_id")).orderBy(col(batchCol).desc)
          raw.withColumn("_lww_rn", row_number().over(w))
            .filter(col("_lww_rn") === 1).drop("_lww_rn")
        }
      Seq(dels match {
        case None => lww
        case Some(d) => lww
          .join(hint(d), Seq("vec_id"), "left")
          .filter(col("del_batch").isNull || col(batchCol) >= col("del_batch"))
          .drop("del_batch")
      })
    }
    mainLive +: deltaLive
  }

  /** MAJOR compaction: fold the LSM delta back into a fresh MAIN
    * artifact — the path that keeps an indefinitely-running ingest
    * from growing its exact-scanned delta and its tombstone set
    * forever. The fold:
    *
    *  1. resolves the delta's LIVE rows exactly as [[probeIvfPqLsm]]
    *     serves them (manifest-resolved segments, latest-batch-wins,
    *     tombstones applied — so post-fold probes are definitionally
    *     the pre-fold answers);
    *  2. rewrites main ∪ live delta cell-partitioned under the SAME
    *     quantizer/codebooks into `outDir` (q153's graduation
    *     generalized to every segment: no refit, the geometry — and
    *     the tuned probe minima — carry over; when the q174 drift
    *     gauge says the frozen geometry has decayed,
    *     [[refit]] rebuilds quantizer + codebooks on the folded live
    *     corpus instead — a full build by definition);
    *  3. drops tombstoned keys PHYSICALLY — deletes stop costing
    *     probe-side anti-joins and their markers' disk.
    *
    * PUBLISH-THEN-RETIRE: this fold WRITES only — it never touches
    * the input artifact or the delta, so a prober mid-scan on
    * (indexDir, deltaDir) keeps every directory it resolved,
    * tombstones included. Retiring the delta before serving swaps
    * would open a resurrection window (a prober that finds no delta
    * finds no tombstones either and silently serves main-only —
    * deleted documents come back). The serving swap is the
    * caller's atomic pointer publish and the delta retires only
    * after a grace period — [[majorFoldPublish]] runs the full
    * discipline over a [[servingRoot]]; a crash anywhere leaves the
    * old artifact + delta fully serving and the fold simply reruns
    * (mode overwrite — idempotent).
    *
    * The quantizer and codebooks are byte-copied ([[copyArtifact]]);
    * the folded corpus goes through [[writeByCell]], and that one
    * write pass also observes the epoch's `stats`
    * ([[writeCorpusAndStats]]). */
  def majorCompact(spark: SparkSession, indexDir: String, deltaDir: String,
                   outDir: String): Unit = {
    // quantizer + codebooks carry over unchanged (no refit — step 2)
    copyArtifact(spark, indexDir, outDir, Seq("model", "codebooks"))
    // the fold rewrites EXACTLY what probes serve ([[lsmLiveSegments]]
    // — one definition of liveness); schemas differ by payload columns
    // (main may carry label, the delta text) — the union keeps both,
    // null where absent, and the per-row batch stamp is dropped (a
    // folded corpus is a fresh epoch)
    val live = lsmLiveSegments(spark, indexDir, deltaDir)
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .drop(graft.sources.SegmentStore.BatchCol)
    writeCorpusAndStats(live, codebookList(spark, indexDir), outDir)
  }

  /** Write an epoch's corpus through [[writeByCell]] and, in the SAME
    * pass (`Dataset.observe`), its mean PQ distortion under
    * `codebooks` ([[distortionCol]], the statistic
    * [[meanDistortion]] computes) as artifact metadata: `stats`, one
    * row — so the [[refitIfDrifted]] gauge's DENOMINATOR is a metadata
    * read, not a re-scan of main on every actuation check (at 100 TB
    * the check must be O(delta)), and writing it costs no scan of its
    * own. An empty corpus has no mean and gets no `stats`; the gauge
    * re-derives it ([[readEpochStats]]' None). */
  private def writeCorpusAndStats(corpus: DataFrame,
                                  codebooks: Seq[Seq[Seq[Double]]],
                                  dir: String): Unit = {
    val stats = org.apache.spark.sql.Observation("epoch_stats")
    writeByCell(corpus.observe(stats,
      avg(distortionCol(codebooks)).as("mean_distortion")), s"$dir/corpus")
    stats.get("mean_distortion") match {
      case m: Double =>
        val spark = corpus.sparkSession
        import spark.implicits._
        Seq(m).toDF("mean_distortion")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
      case _ =>
    }
  }

  /** Byte-copy the `parts` subdirectories of artifact `fromDir` that
    * exist into `toDir` as ONE Spark job over the file listing, one
    * task per file: parquet is neither decoded nor re-encoded, and no
    * byte streams through the driver. Each target subdirectory is
    * deleted first, so a rerun after a crash replaces a partial copy. */
  private def copyArtifact(spark: SparkSession, fromDir: String, toDir: String,
                           parts: Seq[String]): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(hconf)
    val base = fs.makeQualified(new Path(fromDir)).toString + "/"
    val files = parts.map(p => new Path(s"$fromDir/$p")).filter(fs.exists).flatMap { d =>
      val it = fs.listFiles(d, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString).toSeq
    }
    require(files.forall(_.startsWith(base)), s"artifact listing outside $base")
    parts.foreach(p => fs.delete(new Path(s"$toDir/$p"), true))
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val pairs = files.map(f => f -> s"$toDir/${f.stripPrefix(base)}")
    spark.sparkContext.parallelize(pairs, math.max(1, pairs.size)).foreach {
      case (src, dst) =>
        val (s, d) = (new Path(src), new Path(dst))
        if (!FileUtil.copy(s.getFileSystem(conf.value), s,
            d.getFileSystem(conf.value), d, false, true, conf.value))
          throw new IllegalStateException(s"artifact copy failed: $s -> $d")
    }
  }

  /** The persisted epoch mean distortion, or None for an artifact
    * written before stats existed (the gauge then re-derives it). */
  private[graft] def readEpochStats(spark: SparkSession,
                                    dir: String): Option[Double] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/stats"))) None
    else Some(spark.read.parquet(s"$dir/stats")
      .select(col("mean_distortion")).head().getDouble(0))
  }

  // ---------------------------------------------------------------
  // Versioned serving root (publish-then-retire major folds)
  // ---------------------------------------------------------------

  /** Layout of a SERVING ROOT — the artifact-level twin of
    * [[graft.sources.SegmentStore]]'s manifest discipline, at the
    * granularity of whole index generations:
    *
    *  - `epoch_<e>/`       — one immutable artifact generation
    *    (model + cell-partitioned corpus + codebooks — exactly what
    *    [[saveIvfPq]]/[[majorCompact]] write); never mutated once its
    *    pointer publishes.
    *  - `epoch_<e>_delta/` — the LSM delta (segments + tombstones)
    *    accumulating AGAINST epoch e; ingest writers append here
    *    ([[appendDeltaBatch]]/[[appendTombstones]]) while e serves.
    *  - `current_e<e>`     — pointer files, the atomic publish:
    *    written temp + checked rename (single-file rename to a fresh
    *    name — atomic on HDFS and posix alike); readers take the
    *    highest-numbered pointer, so resolving the serving pair is
    *    ONE atomic read and a fold's swap is ONE rename.
    *
    * GC is grace-period, mirroring the store's rule: a fold to epoch
    * e+1 retires only epoch e−1 and ITS delta — what the PREVIOUS
    * pointer stopped referencing — so a prober that resolved against
    * pointer e still finds every directory it planned to scan,
    * TOMBSTONES INCLUDED (the resurrection-window fix: the old delta
    * outlives the swap by one full fold cycle).
    *
    * Writer discipline: folds and ingest appends are single-writer
    * sequenced (the same contract every LSM flush has — the ingest
    * pauses or re-resolves across a fold; ops accepted into the old
    * delta AFTER the fold's liveness resolution would be lost at
    * retire time otherwise). The pointer protects READERS, which race
    * freely — certified by the fold soak (ScaleProbe --fold-soak). */
  object ServingRoot {
    def indexDir(rootDir: String, e: Long): String = s"$rootDir/epoch_$e"
    def deltaDir(rootDir: String, e: Long): String = s"$rootDir/epoch_${e}_delta"
    private def pointer(rootDir: String, e: Long) =
      new org.apache.hadoop.fs.Path(s"$rootDir/current_e$e")

    /** The highest-numbered published pointer, or None on a fresh root. */
    def currentEpoch(fs: org.apache.hadoop.fs.FileSystem,
                     rootDir: String): Option[Long] = {
      val dir = new org.apache.hadoop.fs.Path(rootDir)
      if (!fs.exists(dir)) return None
      val es = fs.listStatus(dir).map(_.getPath.getName)
        .filter(n => n.startsWith("current_e") && !n.endsWith(".tmp"))
        .map(_.drop("current_e".length).toLong)
      if (es.isEmpty) None else Some(es.max)
    }

    /** The serving (indexDir, deltaDir) pair — ONE atomic pointer
      * read; every directory the pair names stays on disk for at
      * least one further fold cycle (grace GC), so the caller's whole
      * query runs against a stable snapshot. */
    def resolve(spark: SparkSession, rootDir: String): (String, String) = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val e = currentEpoch(fs, rootDir).getOrElse(throw new IllegalStateException(
        s"serving root $rootDir has no published epoch"))
      (indexDir(rootDir, e), deltaDir(rootDir, e))
    }

    /** Publish epoch `e` — temp-file + CHECKED rename (the store's
      * manifest discipline verbatim: a false fails the fold loudly so
      * the caller retries, never leaving a completed artifact
      * invisible while the old epoch's retirement clock runs). */
    private[graft] def publish(fs: org.apache.hadoop.fs.FileSystem,
                               rootDir: String, e: Long): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(s"$rootDir/current_e$e.tmp")
      val dst = pointer(rootDir, e)
      val out = fs.create(tmp, true)
      try out.write(s"epoch=$e\n".getBytes("UTF-8")) finally out.close()
      // dst exists only when THIS fold is a crash-replay of itself —
      // same epoch, same fold inputs, same artifact — replace is safe
      if (fs.exists(dst) && !fs.delete(dst, false))
        throw new IllegalStateException(s"epoch publish: could not replace $dst")
      if (!fs.rename(tmp, dst))
        throw new IllegalStateException(
          s"epoch publish failed: rename($tmp, $dst) returned false")
    }

    /** Root-level marker naming the EMBEDDER whose vector space this
      * root's artifacts and prompts share — the vector twin of the
      * media stores' `_format` bit-family stamp, guarding the failure
      * the dim check cannot: two embedders of EQUAL dim but different
      * token hashing (or a swapped remote model behind the seam)
      * produce incomparable spaces, and a durable root built under
      * one, resumed by a server configured with another, silently
      * degrades EVERY route — index probe, delta union, and the
      * exact-scan fallback alike (all compare the mis-embedded prompt
      * against the corpus vectors). Written once at [[init]],
      * immutable for the root's life (an embedder change is a
      * re-embed + re-init, never an in-place swap). */
    val EmbedderFile = "_embedder"

    /** The root's stamped embedder signature, or None for a root that
      * predates stamping. */
    def readEmbedder(fs: org.apache.hadoop.fs.FileSystem,
                     rootDir: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$rootDir/$EmbedderFile")
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }
    }

    /** Serve-time guard: a root stamped for a DIFFERENT embedder than
      * the serving engine's fails LOUDLY — this must never degrade to
      * the exact-scan fallback, which shares the space assumption and
      * would serve confidently wrong scores. An absent stamp (a root
      * predating stamping) passes. */
    def requireEmbedder(fs: org.apache.hadoop.fs.FileSystem,
                        rootDir: String, sig: String): Unit =
      readEmbedder(fs, rootDir).foreach { t =>
        if (t != sig) throw new IllegalStateException(
          s"serving root $rootDir was built for embedder '$t' but this " +
            s"server embeds prompts with '$sig' — the spaces are " +
            "incomparable at equal dim; re-embed and re-init the root")
      }

    private def stampEmbedder(fs: org.apache.hadoop.fs.FileSystem,
                              rootDir: String, sig: String): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(s"$rootDir/$EmbedderFile.tmp")
      val dst = new org.apache.hadoop.fs.Path(s"$rootDir/$EmbedderFile")
      val out = fs.create(tmp, true)
      try out.write(s"$sig\n".getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, dst) && !readEmbedder(fs, rootDir).contains(sig))
        throw new IllegalStateException(
          s"embedder stamp failed: rename($tmp, $dst) returned false")
    }

    /** Seed a fresh root from an existing artifact: byte-copy its
      * `model`, `codebooks`, `corpus` and `stats` into `epoch_0`
      * ([[copyArtifact]] — one Spark job, one task per file, nothing
      * decoded or rewritten; folding the artifact with its empty
      * delta would serve the same rows after a full rewrite), stamp
      * the embedder signature when the caller provides one, and
      * publish the first pointer. A partial `epoch_0` left by a
      * crashed init is deleted first. An artifact written before
      * epoch stats existed is copied without `stats`; the refit gauge
      * then re-derives the mean ([[readEpochStats]]' None). */
    def init(spark: SparkSession, fromIndexDir: String, rootDir: String,
             embedderSig: Option[String] = None): Unit = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      require(currentEpoch(fs, rootDir).isEmpty,
        s"serving root $rootDir already has a published epoch")
      val parts = Seq("model", "codebooks", "corpus")
      parts.foreach(p => require(fs.exists(new org.apache.hadoop.fs.Path(
        s"$fromIndexDir/$p")), s"artifact $fromIndexDir has no $p"))
      val epoch0 = indexDir(rootDir, 0L)
      fs.delete(new org.apache.hadoop.fs.Path(epoch0), true)
      copyArtifact(spark, fromIndexDir, epoch0, parts :+ "stats")
      embedderSig.foreach(stampEmbedder(fs, rootDir, _))
      publish(fs, rootDir, 0L)
    }
  }

  /** MAJOR fold under the publish-then-retire discipline — the
    * serving-root face of [[majorCompact]]:
    *
    *  1. fold the current epoch's main ∪ live delta into
    *     `epoch_<e+1>` (write-only — nothing serving is touched);
    *  2. PUBLISH `current_e<e+1>` by checked rename — the one atomic
    *     swap; probers resolving from now on read the folded artifact
    *     with an empty delta;
    *  3. grace-GC: retire epoch e−1 and its delta — the dirs only a
    *     pointer TWO generations back referenced. Epoch e and its
    *     delta (tombstones included) stay on disk, so a prober that
    *     resolved before the publish finishes against its full
    *     snapshot — no window where a raced probe finds tombstones
    *     gone and resurrects a deleted document.
    *
    * Crash anywhere: before the publish, epoch e serves untouched and
    * the fold reruns idempotently; after it, only grace disk is left
    * over (reclaimed next fold). Returns the new epoch. */
  def majorFoldPublish(spark: SparkSession, rootDir: String): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val e = ServingRoot.currentEpoch(fs, rootDir).getOrElse(
      throw new IllegalStateException(s"serving root $rootDir has no published epoch"))
    majorCompact(spark, ServingRoot.indexDir(rootDir, e),
      ServingRoot.deltaDir(rootDir, e), ServingRoot.indexDir(rootDir, e + 1))
    ServingRoot.publish(fs, rootDir, e + 1)
    graceRetire(fs, rootDir, e)
    e + 1
  }

  private val sessionTombstoneCaps = new graft.ListingMemo[Long]

  /** RAW tombstone-row mass of `deltaDir`'s tombstone store — the
    * resolved segments' row count BEFORE the per-id max-fold, so an
    * UPPER BOUND on the live distinct set (at-least-once replays and
    * repeated deletes of one id only inflate it). One columnless
    * count over the small id-only store; 0 for a store that doesn't
    * exist yet. MEMOIZED per resolved segment listing (the media
    * side's `markerRowCapCached` rule): segment dirs are immutable
    * and the listing names the set, so the count is a pure function
    * of the listing — a maintenance check against an unchanged store
    * runs ZERO jobs (the listing read is filesystem metadata), and
    * any append or fold changes the listing and REPLACES the entry
    * (one entry per store dir — [[graft.ListingMemo]] — so an
    * indefinitely-running maintenance loop's memo stays O(stores),
    * never O(mutations)). */
  def tombstoneRowCap(spark: SparkSession, deltaDir: String): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val store = s"$deltaDir/tombstones"
    val segs = graft.sources.SegmentStore.segments(fs, store)
    if (segs.isEmpty) 0L
    else sessionTombstoneCaps.getOrCompute(spark, store, segs.mkString(";")) {
      segs.map(spark.read.parquet(_)).reduce(_.unionByName(_)).count()
    }
  }

  /** The [[graft.queries.AnnQueries.TombstoneFoldRows]] trigger,
    * ACTUATED: fold-and-publish the serving root's current epoch when
    * its delta's tombstone mass exceeds `maxRows` — the maintenance
    * rule the trigger documents (every live tombstone costs each
    * probe's exclusion join and its store's disk until a fold drops
    * the ids physically; past the measured-flat broadcast region the
    * probes degrade to shuffle anti-joins). The row check is
    * [[tombstoneRowCap]] — an upper bound, so replay inflation can
    * only fold EARLY, never late. Same single-writer contract as
    * [[majorFoldPublish]]: the caller (e.g. the serve loop's
    * `--maintain-every`) must be the fold sequencer for this root.
    * @return Some(newEpoch) when the fold ran, None when under the
    *         trigger. */
  def foldIfTombstonesDue(spark: SparkSession, rootDir: String,
                          maxRows: Long): Option[Long] = {
    val (_, deltaDir) = ServingRoot.resolve(spark, rootDir)
    if (tombstoneRowCap(spark, deltaDir) <= maxRows) None
    else Some(majorFoldPublish(spark, rootDir))
  }

  /** The serving root's grace GC, shared by [[majorFoldPublish]] and
    * [[refitIfDrifted]]: after publishing epoch e+1, retire ONLY epoch
    * e−1 and its delta — the dirs a pointer two generations back was
    * the last to reference — so a prober that resolved against e
    * keeps its full snapshot, tombstones included. */
  private def graceRetire(fs: org.apache.hadoop.fs.FileSystem,
                          rootDir: String, e: Long): Unit =
    if (e > 0) {
      fs.delete(new org.apache.hadoop.fs.Path(
        ServingRoot.indexDir(rootDir, e - 1)), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        ServingRoot.deltaDir(rootDir, e - 1)), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$rootDir/current_e${e - 1}"), false)
    }

  /** Mean assigned-code PQ quantization distortion of `rows`
    * (`embedding` column) under `indexDir`'s PERSISTED codebooks —
    * q174's statistic as a library call: per row, the squared distance
    * of each subspace slice to its nearest codebook centroid, summed
    * across subspaces, averaged over rows. One scan, row-local codegen
    * argmin over the broadcast-literal centroids — no fits, no joins. */
  def meanDistortion(spark: SparkSession, indexDir: String,
                     rows: DataFrame): Double =
    rows.select(avg(distortionCol(codebookList(spark, indexDir))))
      .head().getDouble(0)

  /** A row's PQ distortion under `codebooks` (sub-ordered): per
    * subspace the squared distance of its `embedding` slice to the
    * nearest centroid, summed — the ONE per-row definition shared by
    * [[meanDistortion]] and the epoch-stats observation of
    * [[writeCorpusAndStats]]. */
  private def distortionCol(codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val subDim = codebooks.head.head.size
    codebooks.zipWithIndex.map { case (cents, sub) =>
      val slc = slice(col("embedding"), sub * subDim + 1, subDim)
      graft.expressions.VectorExpressions.sqDist(slc,
        element_at(typedLit(cents.map(_.toSeq)),
          graft.operators.SemDedup.assignCell(slc, cents) + 1))
    }.reduce(_ + _)
  }

  /** `dir`'s persisted codebooks in subspace order. */
  private def codebookList(spark: SparkSession, dir: String): Seq[Seq[Seq[Double]]] = {
    val cb = loadCodebooks(spark, dir)
    cb.keys.toSeq.sorted.map(cb)
  }

  /** REFIT — the rebuild [[majorCompact]] deliberately is not: fold
    * the live corpus (main ∪ delta, latest-op-wins, tombstones
    * dropped — the SAME liveness definition every probe serves) and
    * fit a FRESH coarse quantizer + per-subspace codebooks on it,
    * re-encoding every live row. This is what a tripped q174 drift
    * gauge actuates: between folds the geometry is frozen by design
    * (q153's no-refit graduation), so once the ingest's distribution
    * has drifted past the trigger, carrying the old geometry forward
    * would freeze the decay in — the refit re-derives it from the
    * corpus the index actually serves now. Write-only, same
    * crash-anywhere contract as [[majorCompact]]; publish through
    * [[refitIfDrifted]] (or a caller's own pointer swap). The new
    * epoch's `stats` come from [[saveIvfPq]]'s write pass, under the
    * fresh codebooks — no separate scan. */
  def refit(spark: SparkSession, indexDir: String, deltaDir: String,
            outDir: String, cells: Int, subDim: Int, pqK: Int,
            pqIters: Int): Unit = {
    val live = lsmLiveSegments(spark, indexDir, deltaDir)
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .drop(graft.sources.SegmentStore.BatchCol)
    // the frozen geometry's artifacts (cell assignment + codes) must
    // NOT ride into the refit — buildIvf re-assigns cells and
    // saveIvfPq re-encodes against the fresh codebooks; payload
    // columns (label, text, …) carry through untouched
    val stale = live.columns.filter(c => c == "cell" || c.matches("c\\d+"))
    val corpus = stale.foldLeft(live)(_ drop _)
    val idx = buildIvf(corpus, cells = cells, cache = false)
    val m = corpus.select(col("embedding")).head().getSeq[Float](0).size / subDim
    val codebooks = (0 until m).map { sub =>
      graft.operators.SemDedup.fit(
        corpus.select(col("vec_id"),
          slice(col("embedding"), sub * subDim + 1, subDim).as("embedding")),
        pqK, pqIters)
    }
    saveIvfPq(idx, codebooks, subDim, outDir)
  }

  /** REFIT ACTUATION over a serving root — the gauge and the rebuild
    * in one decision: measure the drift ratio (the live DELTA rows'
    * mean distortion under the serving epoch's codebooks over the
    * epoch corpus's own mean — q174's statistic against the actually-
    * served geometry), and when it exceeds `driftMax`
    * ([[graft.queries.AnnQueries.RefitDriftMax]] at the declared
    * surface), [[refit]] into the next epoch and publish it under the
    * SAME publish-then-retire discipline as [[majorFoldPublish]] — a
    * prober never sees a half-built refit, and pre-swap resolvers
    * keep their grace snapshot. Returns (ratio, Some(newEpoch)) on
    * refit, (ratio, None) when the geometry still fits (including the
    * empty-delta case: nothing has arrived, nothing can have
    * drifted). */
  def refitIfDrifted(spark: SparkSession, rootDir: String, cells: Int,
                     subDim: Int, pqK: Int, pqIters: Int,
                     driftMax: Double): (Double, Option[Long]) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val e = ServingRoot.currentEpoch(fs, rootDir).getOrElse(
      throw new IllegalStateException(s"serving root $rootDir has no published epoch"))
    val idxDir = ServingRoot.indexDir(rootDir, e)
    val deltaDir = ServingRoot.deltaDir(rootDir, e)
    val frames = lsmLiveSegments(spark, idxDir, deltaDir)
    if (frames.tail.isEmpty) return (1.0, None)
    val deltaRows = frames.tail
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .select(col("embedding"))
    // fail CLOSED on a degenerate epoch corpus: a zero (or negative,
    // or NaN) denominator would make the ratio NaN/Infinity, and NaN
    // compares FALSE against driftMax — a genuinely drifted delta
    // would then silently never refit. Treat the gauge as tripped
    // instead: the epoch geometry fitting its own corpus with zero
    // mean distortion means ANY nonzero delta distortion is infinite
    // relative drift, and the refit itself is always safe.
    val num = meanDistortion(spark, idxDir, deltaRows)
    // denominator: the epoch corpus's own mean distortion — PERSISTED
    // when the epoch's corpus was written ([[writeCorpusAndStats]]), so
    // the actuation check scans ONLY the delta rows (O(delta), the
    // 100 TB requirement); an epoch written before stats existed
    // re-derives it from the live main frame once. The persisted mean is over the epoch's
    // full corpus while the live frame excludes post-epoch tombstones
    // — a second-order difference in a gauge whose trip margin is
    // orders of magnitude (in-distribution ~1.0 vs a planted shift
    // ~368, bench/refit_r15.json), and the fold that applies those
    // tombstones re-stamps the stat.
    val den = readEpochStats(spark, idxDir).getOrElse(
      meanDistortion(spark, idxDir, frames.head.select(col("embedding"))))
    val ratio = if (den > 0d) num / den else Double.MaxValue
    if (ratio <= driftMax) (ratio, None)
    else {
      refit(spark, idxDir, deltaDir, ServingRoot.indexDir(rootDir, e + 1),
        cells, subDim, pqK, pqIters)
      ServingRoot.publish(fs, rootDir, e + 1)
      graceRetire(fs, rootDir, e)
      (ratio, Some(e + 1))
    }
  }

  /** Probe a SERVING ROOT: resolve the pointer (one atomic read),
    * then [[probeIvfPqLsm]] against the resolved pair — the read path
    * that makes a concurrent major fold invisible: pre-swap resolvers
    * keep the old epoch + delta (grace GC), post-swap resolvers get
    * the folded artifact, and nobody ever sees main-without-
    * tombstones. */
  def probeIvfPqRoot(spark: SparkSession, rootDir: String, query: Array[Float],
                     k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    val (idx, delta) = ServingRoot.resolve(spark, rootDir)
    probeIvfPqLsm(spark, idx, delta, query, k, nProbe, shortlist)
  }

  /** Probe a persisted IVF-PQ artifact with a BATCH of queries — the
    * multi-tenant face of [[probeIvfPq]] ([[probeIvfMulti]]'s shape
    * composed with the PQ compression): (1) per-query cell selection
    * runs DISTRIBUTED against the broadcast quantizer centers (the
    * probeIvfMulti machinery — window rank over (sqdist, cell));
    * (2) ONE scan of the corpus joins on `cell` with the tiny
    * (query × nProbe) side broadcast — dynamic partition pruning
    * bounds I/O to the union of probed cells; each (query, resident)
    * pair gets its ADC distance (m row-local sqdists of the query's
    * slices against the code's centroid, looked up in the
    * broadcast-literal codebooks — algebraically the per-query LUT,
    * evaluated inline, no per-query driver work at all) and its exact
    * score side by side; (3) per-query shortlists keep the best
    * `shortlist` by (adc, vec_id) via one per-query rank window, whose
    * shuffle carries (query_id, vec_id, adc, score) and never the
    * query vector, and per-query top-k tops out in map-side heaps
    * ([[graft.expressions.TopKAggExpr]], q87's tail).
    * Output: (query_id, doc_id, score, rank). */
  def probeIvfPqMulti(spark: SparkSession, dir: String, queries: DataFrame,
                      k: Int, nProbe: Int, shortlist: Int): DataFrame =
    probeIvfPqMultiFrames(spark, dir,
      spark.read.parquet(s"$dir/corpus"), queries, k, nProbe, shortlist)

  /** [[probeIvfPqMulti]] over EXPLICIT segment frames — the batched
    * face of [[probeIvfPqSegments]], built for the standing evals
    * (q176/q179): ONE plan serves the whole query batch against
    * main ∪ delta (or a folded or filtered segment set), so the LSM
    * liveness resolution, the delta window, and each segment scan run
    * ONCE per eval instead of once per query — the q176 cost was 7
    * sequential probe subtrees, not the ground truth. Segments are
    * projected to the probe's columns (cell, vec_id, embedding,
    * codes) before the union, so differing payload columns are
    * harmless. */
  def probeIvfPqSegmentsMulti(spark: SparkSession, indexDir: String,
                              segments: Seq[DataFrame], queries: DataFrame,
                              k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    val subs = loadCodebooks(spark, indexDir).keys.toSeq.sorted
    val cols = Seq("cell", "vec_id", "embedding") ++ subs.map(s => s"c$s")
    probeIvfPqMultiFrames(spark, indexDir,
      segments.map(_.select(cols.map(col): _*)).reduce(_.unionByName(_)),
      queries, k, nProbe, shortlist)
  }

  private def probeIvfPqMultiFrames(spark: SparkSession, dir: String,
                                    corpus: DataFrame, queries: DataFrame,
                                    k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    import spark.implicits._
    val model = loadQuantizer(spark, dir)
    val centers = model.clusterCenters.zipWithIndex
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
    val cbRows = loadCodebooks(spark, dir)
    val subs = cbRows.keys.toSeq.sorted
    val codebooks = subs.map(cbRows)
    val subDim = codebooks.head.head.size
    val adc = subs.map { sub =>
      graft.expressions.VectorExpressions.sqDist(
        slice(col("qe"), sub * subDim + 1, subDim),
        element_at(typedLit(codebooks(sub)), col(s"c$sub") + 1))
    }.reduce(_ + _)
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc_d").asc, col("vec_id").asc)
    corpus
      .join(broadcast(qcells), Seq("cell"))
      .select(col("query_id"), col("vec_id"), adc.as("adc_d"),
        round(neo4jScore(col("embedding"), col("qe")), 6).as("score"))
      .withColumn("srk", row_number().over(ws))
      .filter(col("srk") <= shortlist)
      .groupBy(col("query_id"))
      .agg(graft.expressions.TopKAggExpr.topK(col("vec_id"), col("score"), k).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("query_id"), col("hit.id").as("doc_id"), col("hit.score").as("score"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Probe a PERSISTED IVF index with a BATCH of queries — the
    * multi-tenant / streaming face of [[probeIvf]] (one tenant's query
    * stream or many concurrent callers share one artifact read).
    * Per-query cell selection runs distributed: the quantizer centers
    * (cells×dim — always broadcast-sized) rank against each normalized
    * query by the SAME (sqdist, cell) ordering [[probeIvf]] sorts by
    * driver-side, via the codegen'd
    * [[graft.expressions.ArraySqDist]] (bit-identical arithmetic to
    * MLlib's `Vectors.sqdist` loop). The corpus side is ONE artifact
    * read joined on `cell` — the partition column — with the tiny
    * (query × nProbe) side broadcast, so dynamic partition pruning
    * bounds I/O to the UNION of probed cell directories (spec-asserted,
    * the q73/q75 property). Per-query top-k via map-side partial top-k
    * heaps ([[graft.expressions.TopKAggExpr]], q11's shape) — the
    * scored candidates never fully sort. Output: (query_id, doc_id,
    * score, rank). */
  def probeIvfMulti(spark: SparkSession, dir: String, queries: DataFrame,
                    k: Int, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val model = loadQuantizer(spark, dir)
    val centers = model.clusterCenters.zipWithIndex
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
    spark.read.parquet(s"$dir/corpus")
      .join(broadcast(qcells), Seq("cell"))
      .select(col("query_id"), col("vec_id").as("id"),
        round(neo4jScore(col("embedding"), col("qe")), 6).as("score"))
      .groupBy(col("query_id"))
      .agg(graft.expressions.TopKAggExpr.topK(col("id"), col("score"), k).as("hits"))
      .select(col("query_id"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("query_id"), col("hit.id").as("doc_id"), col("hit.score").as("score"),
        (col("pos") + 1).cast("long").as("rank"))
  }
}
