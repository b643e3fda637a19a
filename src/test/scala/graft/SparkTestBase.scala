package graft

import graft.functions.{GraftExtensions, GraftFunctions}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session config for all suites — mirrors the driver's Verify
  * session (UTC, µs parquet timestamps, small shuffle partitioning). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session()

  val sf0001 = "/root/testdata/sf0.001"

  /** The Spark jobs `body` starts, counted by a listener until a marked
    * flush job's start is seen: job events arrive in submission order,
    * so by then every job of `body` has been counted. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "flush"))
          flushed.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("flush", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    started.get()
  }
}

object SparkTestBase {
  /** The one test session builder (suites and [[AlgebraProps]]), set up
    * like [[LocalSession]]: the native functions through the extension,
    * which every `newSession()` inherits, plus [[GraftFunctions.register]]
    * for the case where `getOrCreate` returns a session that was already
    * running; `nanosAsLong` for [[Tables.events]]; the fork-free local
    * file system of [[LocalSession.localFsConf]] and the shared codegen
    * cache of [[LocalSession.codegenConf]]. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(LocalSession.localFsConf)
      .config(LocalSession.codegenConf)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    GraftFunctions.register(s)
    s
  }
}
