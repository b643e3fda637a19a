package graft.pipeline

import graft.Tables
import graft.operators.{Curation, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.concurrent.duration._
import scala.util.Try

/** The daily CURATION run end-to-end — the data-pipeline shape the
  * reference orchestrates externally (trigger scraper → poll until the
  * feed lands → process → notify,
  * `/root/reference/dags/update_tr_from_ex_dag.py:93-154`), with the
  * processing step being this engine's own curation pass: exact-dup
  * removal + quality gate + repetition gate (the q69 verdict set), and
  * the survivors written as hash-balanced training shards
  * ([[ShardWriter]]) a data loader can consume directly.
  *
  * Composition is ordinary function composition over DataFrames — the
  * scalar "XCom" between steps is the returned (total, kept) pair. Every
  * stage is the scale shape its standalone query uses: one window
  * shuffle by text for dedup, map-only gates, one shard shuffle for the
  * write. */
object CurationPipeline {

  /** Polls until `readiness` reports the feed landed, then curates
    * `documents` under `sfDir` and writes surviving docs as `nShards`
    * sorted shards under `outDir`; notifies success XOR failure (the
    * success note carries per-gate drop counts, observed off the write
    * job's own accumulators). Returns (total, kept) document counts. */
  def run(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      readiness: () => Pipeline.PollStatus,
      notify: String => Unit,
      nShards: Int = 8,
      pokeInterval: FiniteDuration = 50.millis,
      timeout: FiniteDuration = 5.seconds,
      retries: Int = 3,
      retryDelay: FiniteDuration = 10.millis): Try[(Long, Long)] = {
    // (total, kept, exact-dup drops, quality drops, repetition drops)
    val result: Try[(Long, Long, Long, Long, Long)] = for {
      _ <- Pipeline.pollUntil(pokeInterval, timeout)(readiness)
      counts <- Pipeline.retryWithBackoff(
        retries, retryDelay, maxDelay = retryDelay * 8) { () =>
        val d = Tables(spark, sfDir).documents
        val firstOfText = row_number().over(
          Window.partitionBy(col("text")).orderBy(col("doc_id"))) === 1
        // gate metrics ride the shard-write job itself (`observe` =
        // accumulators collected by the one real action) — previously
        // this block ran THREE jobs over the corpus (total count, kept
        // count off a checkpoint, shard write); now the write is the
        // only pass, which is the difference between 1× and 3× input
        // I/O on a 100 TB daily run. Fresh Observation per attempt:
        // an Observation instance is single-use.
        val obs = new org.apache.spark.sql.Observation()
        val gated = d
          .withColumn("first_of_text", firstOfText)
          .withColumn("q_keep", TextOps.qualityKeep)
          .withColumn("rep_keep", Curation.repetitionKeep)
          .observe(obs,
            count(lit(1)).as("total"),
            count_if(!col("first_of_text")).as("exact_dup"),
            count_if(col("first_of_text") && !col("q_keep")).as("quality_drop"),
            count_if(col("first_of_text") && col("q_keep") && !col("rep_keep"))
              .as("repetition_drop"),
            count_if(col("first_of_text") && col("q_keep") && col("rep_keep"))
              .as("kept"))
        val kept = gated
          .filter(col("first_of_text") && col("q_keep") && col("rep_keep"))
          .select(d.columns.map(col): _*)
        ShardWriter.writeShards(kept, outDir, keyCol = "doc_id",
          nShards = nShards, sortCol = "doc_id")
        val m = obs.get
        def metric(k: String): Long = m(k).asInstanceOf[Long]
        (metric("total"), metric("kept"),
          metric("exact_dup"), metric("quality_drop"), metric("repetition_drop"))
      }
    } yield counts
    Pipeline.route(result)(
      c => {
        notify(s"success: curated ${c._2} of ${c._1} docs into $nShards shards " +
          s"(dropped: ${c._3} exact-dup, ${c._4} quality, ${c._5} repetition)")
        result.map(t => (t._1, t._2))
      },
      err => { notify(s"failure: ${err.getMessage}"); result.map(t => (t._1, t._2)) })
  }
}
