package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** [[View]]: one build per (session, dir) under concurrent first calls,
  * declared deps enforced at construction and at the fetch, failed
  * builds that leave nothing behind, and the bench order derived from
  * the deps. Reliable-mode tests use `newSession()` so the conf flip
  * cannot leak into suites sharing the JVM-wide session. */
class ViewSpec extends SparkTestBase {

  /** A fresh reliable-mode session checkpointing under its own temp root,
    * and a lister of the `rdd-*` checkpoint dir names under that root. */
  private def reliableSession(tag: String): (SparkSession, () => Seq[String]) = {
    val s2 = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory(tag).toFile
    s2.sparkContext.setCheckpointDir(root.toString)
    s2.conf.set(Materialize.ModeKey, "reliable")
    def rddDirs(): Seq[String] =
      Option(root.listFiles).getOrElse(Array.empty).toSeq
        .flatMap(d => Option(d.listFiles).getOrElse(Array.empty))
        .map(_.getName).filter(_.startsWith("rdd-")).sorted
    (s2, () => rddDirs())
  }

  test("8 concurrent first calls on a cold reliable view run one build and keep only its checkpoint") {
    val (s2, rddDirs) = reliableSession("graft-view-conc")
    import s2.implicits._
    val builds = new AtomicInteger
    val view = View("conc") { (_, _) =>
      builds.incrementAndGet()
      val interior = Materialize.cut(Seq(1L, 2L, 3L).toDF("x"))
      Materialize.cut(interior.withColumn("y", col("x") * 2))
    }
    try {
      val go = new CountDownLatch(1)
      val counts = new ConcurrentLinkedQueue[Long]
      val clients = (1 to 8).map(_ => new Thread(() => {
        go.await()
        counts.add(view(s2, "conc").count())
      }))
      clients.foreach(_.start())
      go.countDown()
      clients.foreach(_.join())
      assert(counts.toArray.toSeq == Seq.fill(8)(3L))
      assert(builds.get == 1)
      val own = Materialize.checkpointPathsOf(view(s2, "conc"))
        .map(p => new org.apache.hadoop.fs.Path(p).getName)
      assert(own.nonEmpty && rddDirs() == own.sorted,
        s"only the view's own checkpoint may remain: kept $own, saw ${rddDirs()}")
    } finally {
      view.invalidate(s2, "conc")
      s2.conf.set(Materialize.ModeKey, "local")
    }
  }

  test("a build that reads a view missing from its deps fails, naming both views") {
    import spark.implicits._
    val base = View("base")((_, _) => Seq(1L).toDF("x"))
    val reader = View("reader")((s, d) => base(s, d).withColumn("y", col("x")))
    val e = intercept[IllegalStateException](reader(spark, "deps"))
    assert(e.getMessage.contains("reader") && e.getMessage.contains("base"), e.getMessage)
    assert(!reader.isCached(spark, "deps"))
    // declared, the same read builds
    val declared = View("declared", Seq(base))((s, d) => base(s, d).withColumn("y", col("x")))
    assert(declared(spark, "deps").count() == 1)
  }

  test("a forward reference to a view not yet constructed fails at construction") {
    // the same shape as two view vals of an operator object declared in
    // the wrong order (the compiler only warns)
    class Views {
      val early: View = View("early", Seq(late))((s, _) => s.emptyDataFrame)
      val late: View = View("late")((s, _) => s.emptyDataFrame)
    }
    val e = intercept[IllegalArgumentException](new Views)
    assert(e.getMessage.contains("early"), e.getMessage)
  }

  test("a reliable build that cuts and then throws frees its checkpoints and stores nothing") {
    val (s2, rddDirs) = reliableSession("graft-view-fail")
    import s2.implicits._
    @volatile var fail = true
    val view = View("flaky") { (_, _) =>
      val cut = Materialize.cut(Seq(1L, 2L).toDF("x"))
      if (fail) throw new IllegalStateException("build failed after a cut")
      cut
    }
    try {
      val e = intercept[IllegalStateException](view(s2, "fail"))
      assert(e.getMessage == "build failed after a cut")
      assert(rddDirs().isEmpty, s"a failed build must free its checkpoints, saw ${rddDirs()}")
      assert(!view.isCached(s2, "fail"))
      fail = false
      assert(view(s2, "fail").count() == 2)
      assert(view.isCached(s2, "fail") && rddDirs().size == 1)
    } finally {
      view.invalidate(s2, "fail")
      s2.conf.set(Materialize.ModeKey, "local")
    }
  }

  test("BenchViews.entries lists every view after its deps, in the bench's line-item order") {
    assert(BenchViews.entries(spark, sf0001).map(_._1) == Seq(
      "view_shingles", "view_exact_pairs", "view_cluster_labels",
      "view_neardup_pairs", "view_embed_labels",
      "view_copurchase_support", "view_copurchase_edges", "view_copurchase_adj",
      "view_trade_edges"))
  }
}
