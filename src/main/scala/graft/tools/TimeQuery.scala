package graft.tools

import graft.SparkEntry
import org.apache.spark.metrics.source.CodegenMetrics

/** Dev utility: time individual named queries against a fixture dir
  * without running the whole bench.
  * `sbt "runMain graft.tools.TimeQuery /root/testdata/sf0.1 q33_jaccard_pairs ..."`
  * Pass a query twice to get a warm second number (fresh JVMs measure
  * codegen, not the query). Each `TIMEQ` line also counts the generated
  * classes its run compiled: a warm rerun that hits the codegen cache
  * prints `0 compiles`. `GRAFT_STAGE_LOG=1` additionally prints one
  * line per completed stage over 0.5 s (tasks, wall, input/shuffle
  * record counts) — the fastest way to see WHERE a pipeline's time
  * goes; this is what located the round-6 narrow-input parallelism
  * collapse (a 4e8-row stage running 2 of 32 tasks). */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = graft.LocalSession()
    StageLog.install(spark)
    // warm up the scan/join/agg codepaths once, like Bench
    ScaleProbe.noop(SparkEntry.queries("q01_pricing_summary")(spark, sfDir))
    // view_* names time the Bench view line items (invalidate +
    // recompute, same BenchViews registry the official bench uses)
    val views = graft.BenchViews.entries(spark, sfDir).toMap
    names.foreach { n =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      views.get(n) match {
        case Some(v) => v.invalidate(); v.compute()
        case None => ScaleProbe.noop(SparkEntry.queries(n)(spark, sfDir))
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      println(f"TIMEQ $n $secs%.2f s $compiles compiles")
    }
    spark.stop()
  }
}
