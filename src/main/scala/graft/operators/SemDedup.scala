package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** SemDeDup — semantic (embedding-space) deduplication via cluster-then-
  * prune (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication" — public literature). The
  * reference's store has no dedup of any kind (server.py:85-91 reads an
  * already-curated corpus); this is the LLM-pipeline extension surface.
  *
  * Two phases, both deterministic so a row-at-a-time oracle can replay
  * them exactly:
  *
  *  1. '''Deterministic Lloyd's k-means''' ([[fit]]): initial centroids
  *     are the first k vectors by id; each iteration assigns every
  *     vector to its nearest centroid (squared L2, rounded to 6 dp,
  *     ties to the lowest cell id) and recomputes centroids as the
  *     per-dimension mean. Sums are routed through DECIMAL(27,10) so
  *     partition order cannot move a double, and each mean is rounded
  *     once (6 dp) — the centroid table is therefore bit-identical on
  *     any cluster layout.
  *  2. '''Within-cell pruning''' ([[report]]): near-dup pairs are pairs
  *     in the SAME cell with pair score ≥ the threshold (Neo4j score
  *     convention `(1+cos)/2`, matching the engine's other similarity
  *     surfaces); of each pair the member CLOSER to its centroid is
  *     marked removed (the paper keeps the lowest-centroid-similarity
  *     example of each duplicate group; ties break to the lower id).
  *
  * Scale shape: the centroid table is k×dim ALWAYS (driver-sized by
  * construction — the collect is O(k·dim), the same class as
  * [[RankedCumsum]]'s per-partition offsets); assignment is row-local
  * math against a centroid table held by the expression for small k, and a
  * broadcast-join `min(struct(d, cell))` argmin for production k
  * (routing at [[LiteralPathMaxK]], bit-identical by construction —
  * shuffle volume stays one row per vector because the map-side
  * combine collapses the k candidates); each iteration's
  * update is ONE map-side-combined shuffle whose post-combine volume is
  * k×dim×(sum,count) per task. The candidate-pair join shuffles the
  * corpus once on `cell` and never compares across cells — the cluster
  * count bounds pair volume exactly as in the paper (production corpora
  * run k ≈ 10⁴–10⁵ so cells stay small; the fixture uses k=8).
  */
object SemDedup {

  /** Largest k routed to the row-local assignment ([[assignCell]]):
    * beyond this the broadcast-join argmin below is the right plan —
    * the per-row loop is O(k·dim) and the table rides every task. Both paths share the rounded compare key and
    * the lowest-cell tie-break, so routing never changes a result
    * (SemDedupSpec proves the paths bit-identical). */
  val LiteralPathMaxK = 32

  /** Squared L2 distance between two vector columns — sequential fold
    * in array order (the [[graft.functions.VectorFunctions]]
    * determinism contract), rounded once to 6 dp for a portable
    * argmin compare. Backed by the codegen'd
    * [[graft.expressions.ArraySqDist]] (bit-equal to the HOF
    * `aggregate(zip_with(...))` fold, asserted in ExpressionsSpec):
    * assignment evaluates it corpus×k times per iteration, where
    * interpreted lambda dispatch would dominate. */
  private def sqDist(emb: Column, centroid: Column): Column =
    round(graft.expressions.VectorExpressions.sqDist(emb, centroid), 6)

  /** Nearest-centroid cell id (argmin over [[sqDist]]'s rounded
    * distance, ties to the lowest cell id). Small-k path: the centroid
    * table rides the expression itself, so assignment is row-local
    * codegen with NO join — one [[graft.expressions.NearestCentroid]]
    * call per row, whose rule (rounded distance first, lowest cell on a
    * tie, a null or length-mismatched slice scoring +∞) is EXACTLY the
    * strict-less / lowest-cell-tie rule [[assignCellsJoin]]'s
    * `min(struct(d, cell))` uses. */
  private[graft] def assignCell(emb: Column, centroids: Seq[Seq[Double]]): Column =
    graft.expressions.VectorExpressions.nearestCentroid(emb, centroids)

  /** Large-k assignment: broadcast the k×dim centroid table, compute
    * every (vector, centroid) distance on the corpus's own partitions
    * (broadcast nested-loop — no corpus shuffle to build candidates),
    * then argmin per vector as `min(struct(d, cell))` — the struct
    * compares distance first and cell id second, which is EXACTLY the
    * row-local path's strict-less / lowest-cell-tie rule. The k rows per
    * vector are co-partitioned after the broadcast join, so the
    * map-side combine collapses them before the exchange: shuffle
    * volume is one row per corpus vector regardless of k. */
  private[graft] def assignCellsJoin(corpus: DataFrame, centroids: Seq[Seq[Double]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = centroids.zipWithIndex.map { case (ce, i) => (i, ce) }
      .toDF("c_cell", "c_ce")
    corpus
      .join(broadcast(centDf))
      .select(col("vec_id"), col("embedding"),
        struct(sqDist(col("embedding"), col("c_ce")).as("d"),
          col("c_cell").as("cell")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"), min(col("dc")).as("b"))
      .select(col("vec_id"), col("embedding"), col("b.cell").as("cell"))
  }

  /** (vec_id, embedding, cell) for every corpus vector, routed to the
    * row-local path or the broadcast-join path by k. */
  private[graft] def assignCells(corpus: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    if (centroids.size <= LiteralPathMaxK)
      corpus.select(col("vec_id"), col("embedding"),
        assignCell(col("embedding"), centroids).as("cell"))
    else assignCellsJoin(corpus, centroids)

  /** Deterministic Lloyd's fit. Returns the final per-cell centroids,
    * cell index = list position. `corpus` must carry (vec_id,
    * embedding); initial centroids are the k smallest vec_ids'
    * embeddings (components rounded to 6 dp). Each update computes the
    * per-dimension mean in Spark itself (decimal-routed sum, one
    * round(…, 6) after the double divide) so the driver never does
    * arithmetic — it only repackages k×dim already-rounded doubles
    * into the next iteration's literals. */
  def fit(corpus: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    // seeds = the k smallest PRESENT vec_ids (TakeOrdered — k rows to
    // the driver). On a full corpus (ids 0..k-1 present) this is the
    // original vec_id < k rule bit-for-bit; on a filtered slice (the
    // q150 main split) it stays well-defined and deterministic.
    val init = corpus
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double"), 6)).as("ce"))
      .orderBy(col("vec_id")).limit(k)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toSeq).toSeq
    require(init.size == k, s"need at least $k seed vectors, found ${init.size}")

    (1 to iters).foldLeft(init) { (cents, _) =>
      val rows = assignCells(corpus, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(
          sum(col("v").cast("double").cast("decimal(27,10)")).as("sd"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("pos"),
          round(col("sd").cast("double") / col("n"), 6).as("m"))
        .collect()
      val byCell = rows.groupBy(_.getInt(0))
      // a cell that lost every vector keeps its previous centroid (the
      // standard empty-cluster rule; deterministic on both engines
      // because assignment itself is deterministic)
      cents.indices.map { c =>
        byCell.get(c) match {
          case Some(rs) => rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
          case None => cents(c)
        }
      }
    }
  }

  /** Session-scoped memo of fitted centroid tables — the same
    * TRAIN-once / SCORE-many lifecycle
    * [[graft.operators.QualityClassifier.sessionFits]] gives the
    * classifier and the persisted artifacts (q73 band index, q75 IVF)
    * give their models: a PQ codebook or k-means quantizer is an
    * OFFLINE index artifact, fitted once per corpus and probed by
    * every consumer. q144 and q145 fit the IDENTICAL per-subspace
    * codebooks over the same slices; without the memo each query pays
    * all m Lloyd's chains (iters+1 driver-coordinated jobs per chain)
    * on every evaluation. Keyed by (corpus dir, sliceTag, k, iters)
    * under the owning context's applicationId ([[graft.SessionMemo]]);
    * the memoized value is the final k×dim centroid table — plain
    * rounded doubles, context-free, dropped with the context.
    * `sliceTag` names the corpus/slice DEFINITION (dir + hyperparams
    * alone cannot distinguish two different slices of one corpus). */
  private[graft] val sessionFits =
    new graft.SessionMemo[(String, String, Int, Int), Seq[Seq[Double]]]

  /** Compute-once-per-(session, dir, sliceTag, k, iters) [[fit]].
    * Deterministic by [[fit]]'s contract, so memoization cannot
    * change a result — only who pays for it.
    *
    * r19 guard: the memo key additionally carries a fingerprint of the
    * slice's CANONICALIZED logical plan, so a sliceTag collision (a new
    * caller reusing an existing tag over a different projection or
    * filter) can only MISS the memo and refit — it can never silently
    * serve another slice's centroids. Costs plan construction +
    * analysis per call (no Spark jobs); callers that genuinely share a
    * fit (q144/q145's identical per-subspace slices) build identical
    * canonical plans and still share. */
  def sessionFit(s: org.apache.spark.sql.SparkSession, dir: String,
                 sliceTag: String, corpus: => DataFrame,
                 k: Int, iters: Int): Seq[Seq[Double]] = {
    val sliced = corpus
    val fp = sliced.queryExecution.analyzed.canonicalized.toString.hashCode
    sessionFits.getOrCompute(s, (dir, s"$sliceTag#$fp", k, iters))(
      fit(sliced, k, iters))
  }

  /** Per-document SemDeDup report against fitted centroids: (vec_id,
    * cell, centroid_score, n_nbrs, removed). `removed` = 1 iff some
    * same-cell neighbor at pair score ≥ `minScore` sits FARTHER from
    * the shared centroid (or equally far with a smaller id). */
  def report(corpus: DataFrame, centroids: Seq[Seq[Double]], minScore: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = broadcast(
      centroids.zipWithIndex.map { case (ce, i) => (i, ce) }.toDF("cell", "ce"))
    val f = assignCells(corpus, centroids)
      .join(centDf, Seq("cell"))
      .withColumn("cscore",
        round((lit(1.0) + cosineSimilarityHof(col("embedding"), col("ce"))) / 2.0, 6))
      .select(col("vec_id"), col("cell"), col("embedding"), col("cscore"))

    val x = f.select(col("vec_id").as("va"), col("cell"),
      col("embedding").as("ea"), col("cscore").as("sa"))
    val y = f.select(col("vec_id").as("vb"), col("cell"),
      col("embedding").as("eb"), col("cscore").as("sb"))
    val pairs = x.join(y, Seq("cell"))
      .filter(col("va") < col("vb") &&
        neo4jScore(col("ea"), col("eb")) >= minScore)
      .select(col("va"), col("vb"), col("sa"), col("sb"))

    val nbrs = pairs.select(col("va").as("vec_id"),
        (col("sa") > col("sb") || (col("sa") === col("sb") && col("va") > col("vb")))
          .as("worse"))
      .union(pairs.select(col("vb").as("vec_id"),
        (col("sb") > col("sa") || (col("sb") === col("sa") && col("vb") > col("va")))
          .as("worse")))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_nbrs"),
        max(when(col("worse"), 1).otherwise(0)).as("removed"))

    f.join(nbrs, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        col("cscore").as("centroid_score"),
        coalesce(col("n_nbrs"), lit(0L)).cast("long").as("n_nbrs"),
        coalesce(col("removed"), lit(0)).cast("int").as("removed"))
  }
}
