package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding math over `ArrayType(FloatType)` columns, built from Spark's
  * higher-order array functions so everything stays inside Catalyst (no
  * Scala UDF serialization, no Python).
  *
  * Determinism: every float is upcast to double *before* any arithmetic,
  * and `aggregate` folds strictly left-to-right, so the dot product is a
  * fixed-order IEEE double reduction — bit-identical on any partitioning
  * and reproducible by the DuckDB oracle.
  *
  * Scale: these are per-row scalar expressions (no shuffle). For 100 TB
  * corpora the pair-generation strategy around them (broadcast the query
  * set, LSH-bucket the corpus) decides cost — see operators.Similarity.
  */
object VectorOps {
  /** Sequential-fold dot product of two float-array columns, in double.
    * Higher-order-function form: works with no session setup, but Spark
    * interprets HOF lambdas (no codegen) — fine off the hot path. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Codegen'd dot product ([[expressions.DotProduct]]) — bit-identical to
    * [[dot]] but ~100× faster in pairwise hot loops. */
  def dotNative(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity: dot / (||a|| * ||b||). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd cosine (see [[dotNative]]); bit-identical to [[cosine]]. */
  def cosineNative(a: Column, b: Column): Column =
    dotNative(a, b) / (sqrt(dotNative(a, a)) * sqrt(dotNative(b, b)))

  /** Squared euclidean distance (monotone with euclidean — cheaper). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, x) => acc + x)

  /** Deterministic hash-derived hyperplane weight in [-0.5, 0.5). The
    * xxhash64 of a literal constant-folds at plan time — zero runtime
    * hashing cost. */
  private def planeWeight(p: Int, d: Int): Column =
    (pmod(xxhash64(lit(p * 7919 + d)), lit(100000)).cast("double") / 100000.0) - 0.5

  /** Sign-bit locality-sensitive bucket: `planes` pseudo-random hyperplanes,
    * one bit per plane packed into a long. Rows in the same bucket are
    * likely cosine-similar, so an ANN search only compares within buckets —
    * the 100 TB path where the brute-force cross join is impossible. */
  def lshBucket(v: Column, planes: Int, dim: Int): Column = {
    val bits = (0 until planes).map { p =>
      val dotP = (0 until dim).map(d => element_at(v, d + 1).cast("double") * planeWeight(p, d))
        .reduce(_ + _)
      when(dotP > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Multi-table sign-LSH bucket keys, one packed bucket per table
    * (array index = table id). A pair collides if it matches in ANY
    * table — with T tables of k planes, recall for pairs at angle θ is
    * 1-(1-(1-θ/π)^k)^T, so moderate-similarity neighbors survive (a
    * single k·T-bit bucket would lose them exponentially). Backed by the
    * native [[expressions.LshBuckets]] — the equivalent Column-composed
    * expression tree (tables × planes × dim terms) exceeds codegen
    * limits and interprets. */
  def lshBucketTables(v: Column, tables: Int, planesPerTable: Int): Column =
    call_function("graft_lsh_buckets", v, lit(tables), lit(planesPerTable))

  /** Multi-probe sign-LSH keys ([[expressions.LshProbeKeys]], Lv et al.
    * VLDB'07): per table, the exact sign-bucket plus the `probes − 1`
    * most-likely neighbor buckets (smallest total squared hyperplane
    * margin), each packed as `(table << planesPerTable) | bucket` so the
    * key itself is the equi-join column. With `probes = 1` the keys are
    * exactly [[lshBucketTables]]'s buckets in packed form (spec-pinned). */
  def lshProbeKeys(v: Column, tables: Int, planesPerTable: Int, probes: Int): Column =
    call_function("graft_lsh_probe_keys", v, lit(tables), lit(planesPerTable), lit(probes))
}
