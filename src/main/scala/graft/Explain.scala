package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

/** Plan-inspection main: prints the formatted physical plan for the named
  * queries (or all). Usage:
  * `runMain graft.Explain <sfDir> [query ...]`
  *
  * Materializing queries (q32/q33/q44/q55/q60/q70, the GlobalRank
  * consumers q23/q71, and the memoized views) checkpoint their interiors,
  * so their printed plan is a truncated scan of the materialized result —
  * flagged below ([[readsCheckpoint]]); their real interiors are the
  * `*Pipeline` / `localRankPipeline` / `propagationRound` methods PlanSpec
  * inspects. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession(defaultCpus = "4")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      try {
        val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
        val s = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        if (readsCheckpoint(qe.analyzed))
          println("NOTE: plan reads a checkpointed interior (truncated " +
            "lineage) — inspect the pre-checkpoint pipeline method for " +
            "the real operator shape (see PlanSpec).")
        println(s)
      }
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }

  /** Whether `plan` scans an RDD whose lineage a local or reliable
    * checkpoint truncated (a `.cut()`), not merely some existing RDD:
    * q66 scans its index probe's output, an RDD mapped over a cut and not
    * itself one. */
  def readsCheckpoint(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }.exists(_.isCheckpointed)
}
