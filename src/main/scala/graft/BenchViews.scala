package graft

import org.apache.spark.sql.SparkSession

/** The memoized views that `Bench` times as explicit `view_*` line items
  * (invalidate + recompute — see Bench's scaladoc): ONE registry shared
  * by Bench, TimeQuery and the anti-flap remeasure pass, so "what counts
  * as the view pipeline" can never drift between the official bench and
  * the evidence tooling that adjudicates its over-budget flags. Each
  * entry is (invalidate, compute-to-completion), named `view_<name>`.
  *
  * The order is derived from the views' declared deps ([[View.inBuildOrder]]
  * over the views no other view reads): each view comes after its deps,
  * so its timed recompute reads them warm and measures only its own
  * pipeline — a dep's build is its own line item. */
object BenchViews {
  final case class ViewDef(invalidate: () => Unit, compute: () => Long)

  private def leaves: Seq[View] = Seq(operators.Dedup.clusterLabels,
    operators.Similarity.embedClusterLabels, operators.Analytic.adjView,
    operators.Analytic.tradeEdgesView)

  def entries(spark: SparkSession, sfDir: String): Seq[(String, ViewDef)] =
    View.inBuildOrder(leaves).map { v =>
      s"view_${v.name}" -> ViewDef(() => v.invalidate(spark, sfDir),
        () => v(spark, sfDir).count())
    }
}
