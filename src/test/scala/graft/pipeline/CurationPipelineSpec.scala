package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import scala.collection.mutable

class CurationPipelineSpec extends SparkTestBase {
  import Pipeline._

  test("curation run: polls, gates, writes shards of survivors, notifies counts") {
    val notes = mutable.Buffer[String]()
    val out = java.nio.file.Files.createTempDirectory("curation").toString
    val readiness = Iterator[PollStatus](StillRunning, Done)
    val res = CurationPipeline.run(spark, sf0001, out,
      () => readiness.next(), notes.+=(_), nShards = 4)
    assert(res.isSuccess)
    val (total, kept) = res.get
    assert(total == 500L && kept > 0 && kept < total)
    assert(notes.exists(_.startsWith("success:")))
    // per-gate drop counts (observed off the write job, no extra pass)
    // must account for every non-surviving doc
    val note = notes.find(_.startsWith("success:")).get
    val drops = "dropped: (\\d+) exact-dup, (\\d+) quality, (\\d+) repetition".r
      .findFirstMatchIn(note).map(m => (1 to 3).map(m.group(_).toLong)).get
    assert(drops.sum == total - kept, s"gate accounting off in: $note")
    // the written shards contain exactly the surviving docs
    val back = spark.read.parquet(out)
    assert(back.count() == kept)
    // every written doc passes both gates (cross-check via the report:
    // the per-source drops must be absent from the written set)
    val verdicts = graft.operators.Curation
      .gateVerdicts(spark.read.parquet(s"$sf0001/documents.parquet"))
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1) && r.getBoolean(2))).toMap
    val writtenIds = back.select(col("doc_id")).collect().map(_.getLong(0))
    assert(writtenIds.forall(verdicts(_)), "a gated-out doc leaked into the shards")
    // shard layout contract holds on the pipeline's write too
    val shardDirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).map(_.getName).toSet
    assert(shardDirs.nonEmpty && shardDirs.subsetOf(
      (0 until 4).map(i => s"shard=$i").toSet))
  }

  test("curation run: feed failure routes to the failure note and writes nothing") {
    val notes = mutable.Buffer[String]()
    val out = java.nio.file.Files.createTempDirectory("curation_fail").toString
    val res = CurationPipeline.run(spark, sf0001, out,
      () => FailedPoll("conclusion=failure"), notes.+=(_))
    assert(res.isFailure)
    assert(notes.count(_.startsWith("failure:")) == 1 && !notes.exists(_.startsWith("success:")))
    assert(new java.io.File(out).listFiles().forall(!_.getName.startsWith("shard=")))
  }
}
