package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** NaN/±0.0 hardening of the `graft_top_k` bounded aggregate: the score
  * comparator is `java.lang.Double.compare`'s total order, so the
  * retained set is deterministic and merge-order-independent even on
  * adversarial score values (raw `>`/`==` would make the comparator
  * intransitive on NaN — ADVICE round 3). The clean-input path is
  * property-covered in AlgebraProps. */
class TopKRowsSpec extends SparkTestBase {

  private def topk(rows: Seq[(Long, Double, Long, Long)], k: Int, parts: Int) = {
    val s = spark
    import s.implicits._
    rows.toDF("g", "v", "a", "b").repartition(parts)
      .groupBy(col("g"))
      .agg(call_function("graft_top_k", col("v"), col("a"), col("b"), lit(k)).as("t"))
      .collect().map { r =>
        // score as raw bits: Scala == on Double has NaN != NaN, which
        // would make the merge-order-independence compare vacuously fail
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (java.lang.Double.doubleToLongBits(x.getDouble(0)),
            x.getLong(1), x.getLong(2))).toList
      }.toMap
  }

  test("NaN scores keep a deterministic total order, independent of partitioning") {
    val nan = Double.NaN
    val rows = Seq[(Long, Double, Long, Long)](
      (0L, 1.0, 1L, 1L), (0L, nan, 2L, 2L), (0L, nan, 1L, 9L),
      (0L, Double.PositiveInfinity, 3L, 3L), (0L, 2.0, 4L, 4L),
      (1L, nan, 5L, 5L), (1L, 0.5, 6L, 6L))
    val one = topk(rows, 3, 1)
    val seven = topk(rows, 3, 7)
    assert(one == seven, "retained set must be merge-order-independent")
    // Double.compare's total order: NaN ranks above +Infinity; NaN ties
    // break by id1 (1 before 2)
    assert(one(0L).map(t => (t._2, t._3)) == List((1L, 9L), (2L, 2L), (3L, 3L)))
    assert(one(1L).head._2 == 5L)
  }

  test("-0.0 and 0.0 order deterministically (0.0 better than -0.0)") {
    val rows = Seq[(Long, Double, Long, Long)](
      (0L, -0.0, 1L, 1L), (0L, 0.0, 2L, 2L), (0L, -1.0, 3L, 3L))
    val got = topk(rows, 2, 1)
    assert(got == topk(rows, 2, 3))
    assert(got(0L).map(_._2) == List(2L, 1L))
  }
}
