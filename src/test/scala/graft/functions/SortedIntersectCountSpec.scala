package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** graft_sorted_intersect_count ≡ size(array_intersect) on the inputs it
  * is specified for: duplicate-free ascending long arrays (the q157
  * adjacency-list shape). */
class SortedIntersectCountSpec extends SparkTestBase {
  import spark.implicits._

  private def nat(df: org.apache.spark.sql.DataFrame) = df.select(
    call_function("graft_sorted_intersect_count", col("a"), col("b")).as("n"),
    size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))

  test("edge cases: empty, disjoint, identical, subset, null") {
    val df = Seq(
      (Array.empty[Long], Array(1L, 2L)),
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
      (Array(2L, 3L), Array(1L, 2L, 3L, 9L)),
      (Array(-5L, 0L, 7L), Array(-5L, 7L, 8L))
    ).toDF("a", "b")
    val rows = nat(df).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 0L, 3L, 2L, 2L))
    // null input → null out (BinaryExpression null semantics)
    val n = Seq((Option.empty[Array[Long]], Some(Array(1L))))
      .toDF("a", "b")
      .select(call_function("graft_sorted_intersect_count", col("a"), col("b")))
      .collect()
    assert(n.head.isNullAt(0))
  }

  test("property: equals size(array_intersect) on sorted duplicate-free arrays") {
    val rnd = new scala.util.Random(42)
    def sortedArr(): Array[Long] =
      Array.fill(rnd.nextInt(40))(rnd.between(-1000L, 1000L))
        .distinct.sorted
    val pairs = Seq.fill(500)((sortedArr(), sortedArr()))
    val bad = nat(pairs.toDF("a", "b"))
      .filter(col("n") =!= col("ref")).count()
    assert(bad == 0)
  }

  test("graft_sorted_intersect: elements equal array_intersect, ascending, count-consistent") {
    val rnd = new scala.util.Random(7)
    def sortedArr(): Array[Long] =
      Array.fill(rnd.nextInt(40))(rnd.between(-1000L, 1000L))
        .distinct.sorted
    val pairs = Seq.fill(500)((sortedArr(), sortedArr()))
    val rows = pairs.toDF("a", "b").select(
      call_function("graft_sorted_intersect", col("a"), col("b")).as("got"),
      array_sort(array_intersect(col("a"), col("b"))).as("ref"),
      call_function("graft_sorted_intersect_count", col("a"), col("b")).as("n"))
      .collect()
    rows.foreach { r =>
      val got = r.getSeq[Long](0)
      assert(got == r.getSeq[Long](1), r.toString)
      assert(got.length.toLong == r.getLong(2), "count/elements drift")
      assert(got == got.sorted, "output must stay ascending")
    }
    // null input → null out (BinaryExpression null semantics)
    val n = Seq((Option.empty[Array[Long]], Some(Array(1L))))
      .toDF("a", "b")
      .select(call_function("graft_sorted_intersect", col("a"), col("b")))
      .collect()
    assert(n.head.isNullAt(0))
  }

  test("q157 census equals the exact 3-way-join triangle count at sf0.001") {
    // end-to-end consumer check: the oriented-closure count through the
    // native intersect equals the textbook e1⋈e2⋈e3 enumeration on the
    // same canonical edge set
    val census = graft.operators.Analytic.q157.fn(spark, sf0001).collect()
    assert(census.length == 1)
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct().cache()
    val exact = e.as("e1")
      .join(e.as("e2"), col("e2.u") === col("e1.v"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .count()
    assert(census.head.getAs[Long]("n_triangles") == exact)
    assert(census.head.getAs[Long]("n_edges") == e.count())
    e.unpersist()
  }
}
