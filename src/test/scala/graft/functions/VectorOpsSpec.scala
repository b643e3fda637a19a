package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkTestBase {
  import spark.implicits._

  private val df = Seq(
    (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),
    (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),
    (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))
  ).toDF("a", "b")

  test("dot / norm / cosine basic identities") {
    val rows = df.select(
      VectorOps.dot(col("a"), col("b")).as("dot"),
      VectorOps.cosine(col("a"), col("b")).as("cos"),
      VectorOps.sqDist(col("a"), col("b")).as("d2")).collect()
    assert(rows(0).getDouble(0) == 1.0 && rows(0).getDouble(1) == 1.0)
    assert(rows(1).getDouble(0) == 0.0 && rows(1).getDouble(1) == 0.0)
    assert(rows(2).getDouble(0) == 32.0)
    assert(rows(1).getDouble(2) == 2.0)
  }

  test("codegen'd DotProduct is bit-identical to the HOF fold on real embeddings") {
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet").limit(50)
    val pairs = em.crossJoin(
      em.select(col("vec_id").as("id2"), col("embedding").as("e2")))
    val diff = pairs.select(
        VectorOps.dot(col("embedding"), col("e2")).as("hof"),
        VectorOps.dotNative(col("embedding"), col("e2")).as("native"))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(diff == 0, s"$diff pairs differ between HOF and codegen dot")
  }

  test("lshBucket: deterministic, equal vectors share a bucket") {
    val v = Seq(
      (1L, Array.fill(64)(0.25f)),
      (2L, Array.fill(64)(0.25f)),
      (3L, Array.tabulate(64)(i => if (i % 2 == 0) -0.9f else 0.7f))
    ).toDF("id", "v")
    val b = v.select(col("id"), VectorOps.lshBucket(col("v"), 8, 64).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) == b(2L))
    val b2 = v.select(VectorOps.lshBucket(col("v"), 8, 64).as("bucket"))
      .collect().map(_.getLong(0))
    assert(b2.toSeq == Seq(b(1L), b(2L), b(3L)), "bucket must be rerun-stable")
  }
}
