package graft.tools

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Dev scratch main for stage-level timing experiments. Current form:
  * profiles the embedding near-dup auto path on a replicated corpus
  * (`runMain graft.tools.Probe <sfDir> <factor>`), printing every stage
  * over 1 s — where does the f=16 wall actually go? */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val f = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val spark = graft.LocalSession()
    StageLog.install(spark, 1.0, "PROBE-STAGE")
    graft.functions.GraftFunctions.register(spark)
    if (args.contains("docs")) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val docs = (
        if (f == 1) base
        else base
          .withColumn("i", explode(sequence(lit(0), lit(f - 1))))
          .select(
            (col("doc_id") * f + col("i")).as("doc_id"),
            when(col("i") === 0, col("text"))
              .otherwise(concat(col("text"), lit(" v"), col("i"))).as("text"))
      ).localCheckpoint()
      println("PROBE docs=" + docs.count())
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup.exactPairs(docs).localCheckpoint()
      println(f"PROBE pairs=${pairs.count()} t=${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.stop()
      return
    }
    val emBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val em = (
      if (f == 1) emBase
      else emBase
        .withColumn("i", explode(sequence(lit(0), lit(f - 1))))
        .select(
          (col("vec_id") * f + col("i")).as("vec_id"),
          transform(col("embedding"), (x, idx) =>
            when(idx === 0,
              x + (col("i").cast("double") * lit(0.001)).cast("float"))
              .otherwise(x)).as("embedding"))
    ).localCheckpoint()
    println("PROBE vecs=" + em.count())
    val t0 = System.nanoTime()
    val pairs = Similarity.neardupPairsAuto(em).localCheckpoint()
    println(f"PROBE pairs=${pairs.count()} t=${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
