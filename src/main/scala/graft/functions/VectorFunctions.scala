package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>` embedding columns. The reference
  * formulations here are Spark's higher-order functions (`aggregate`,
  * `zip_with`, `transform`): no UDF serialization boundary, but NOT
  * whole-stage codegen'd either — every element goes through an
  * interpreted lambda dispatch (see [[graft.expressions.VectorExpressions]]).
  * So the hot forms — [[cosineSimilarity]], [[l2Normalize]] — are backed
  * by codegen'd Catalyst expressions computing the same folds, and the
  * higher-order forms stay as the executable spec of the fold order.
  *
  * Determinism contract: every reduction is a *sequential left fold in
  * array order* (`aggregate` over `zip_with`), all arithmetic in Double.
  * This keeps scores bit-stable across partitionings and matches a
  * row-at-a-time oracle engine evaluating the same fold — required for
  * hash-exact correctness checks (SURVEY.md §7 "hard parts" (e)).
  *
  * Reference semantics covered: the cosine scoring of the vector index
  * scan (reference server.py:87-91) and the Neo4j score convention
  * `(1+cos)/2 ∈ [0,1]` (reference README.md:75-78; SURVEY.md §2.1 O5).
  */
object VectorFunctions {

  /** Sequential-fold dot product of two float-array columns, in Double. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Sum of squares (squared L2 norm), sequential fold in Double. */
  def squaredNorm(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))

  /** L2 norm. */
  def l2Norm(a: Column): Column = sqrt(squaredNorm(a))

  /** Cosine similarity in [-1, 1]. Null/zero-norm safe: returns null when
    * either norm is 0 (mirrors "undefined" rather than NaN).
    *
    * Backed by the codegen'd [[graft.expressions.ArrayFloatCosine]] —
    * same sequential Double folds as [[cosineSimilarityHof]] (bit-equal,
    * asserted in ExpressionsSpec) without interpreted lambda dispatch. */
  def cosineSimilarity(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosine(a, b)

  /** Reference formulation of [[cosineSimilarity]] in pure higher-order
    * built-ins; kept as the executable spec of the fold order. */
  def cosineSimilarityHof(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom =!= 0.0, dotProduct(a, b) / denom)
  }

  /** Neo4j vector-index score convention: `(1 + cos) / 2 ∈ [0, 1]`
    * (reference README.md:75-78 documents the cosine index; the score
    * mapping is the documented Neo4j convention — SURVEY.md §2.1 O5). */
  def neo4jScore(a: Column, b: Column): Column =
    (lit(1.0) + cosineSimilarity(a, b)) / 2.0

  /** Euclidean (L2) distance, sequential fold in Double. */
  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, v) => acc + v))

  /** L2-normalized copy of the vector (unit length), element type Double.
    * On a zero vector — or one with a null element, whose norm is null —
    * returns the vector widened but unchanged; null on a null array.
    *
    * Backed by the codegen'd [[graft.expressions.ArrayL2Normalize]]:
    * one fold of the squared norm per row, then one divide per element.
    * The higher-order form `when(n =!= 0, transform(a, x => x / n))`
    * re-folds `n` inside the lambda for every element — O(d²) boxed
    * arithmetic per row — and is kept test-local as the reference the
    * expression is bit-identical to (IndexBuildSpec). */
  def l2Normalize(a: Column): Column =
    graft.expressions.VectorExpressions.l2Normalize(a)

  /** Dimension guard: the reference rejects query vectors whose length is
    * not the configured dimension (reference server.py:55-58, 80-84 —
    * SURVEY.md §2.1 O3). Spark has no fixed-length array type, so the
    * constraint is a runtime predicate, mirroring the reference. */
  def hasDim(a: Column, dim: Int): Column = size(a) === lit(dim)
}
