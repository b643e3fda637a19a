package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Each generated class compiles once per JVM under the session's
  * [[LocalSession.codegenConf]]: a stream query's session clone hits the
  * classes an earlier run of the same query compiled, and a working set
  * past Spark's default 100 cache entries stays cached. Suites run one
  * after another in the test JVM, so the JVM-wide compile counter moves
  * only with this suite's queries. */
class CodegenReuseSpec extends SparkTestBase {
  /** The generated classes compiled while `body` runs. */
  private def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a stateful AvailableNow query re-run with a fresh checkpoint compiles no class") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val dir = Files.createTempDirectory("codegen-reuse")
    val in = (1 to 200).map(i => (i % 7, i)).toDF("k", "v")
    in.write.parquet(s"$dir/in")
    /** Drains the landed file into a grouped count, from a new checkpoint. */
    def drain(): Unit = {
      val q = s2.readStream.schema(in.schema).parquet(s"$dir/in")
        .groupBy(col("k")).count()
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", Files.createTempDirectory(dir, "ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "the AvailableNow query did not drain")
      assert(q.exception.isEmpty, q.exception)
      assert(q.lastProgress.numInputRows == 200)
    }
    drain()
    val compiles = compilesDuring(drain())
    assert(compiles == 0, s"the re-run compiled $compiles generated classes")
  }

  test("a working set of 150 distinct projections compiles once, not per round") {
    // 150 driver plus 150 executor-side classes: past Spark's default
    // 100-entry cache, which would evict each before its next use
    def round(): Unit = (1 to 150).foreach { i =>
      assert(spark.range(0, 8, 1, 1).select((col("id") * i + i).as("v"))
        .collect().map(_.getLong(0)).sum == 28L * i + 8L * i)
    }
    round()
    val compiles = compilesDuring(round())
    assert(compiles == 0, s"the second round compiled $compiles generated classes")
  }
}
