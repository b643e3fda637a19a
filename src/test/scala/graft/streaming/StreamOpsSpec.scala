package graft.streaming

import graft.SparkTestBase
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

case class DocRow(doc_id: Long, text: String)

case class EmbRow(vec_id: Long, embedding: Array[Float])

case class HourlyRow(event_type: String, hour_epoch: Long, v: Option[Double])

case class FactRow(row_id: Long, fk: Option[Long])

class StreamOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("tumbling window with watermark finalizes windows, drops late data") {
    val in = MemoryStream[Ev]
    val q = StreamOps.tumblingCounts(in.toDF(), "1 hour", "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("tumb").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:20:00"), 1, "click", 2.0))
    q.processAllAvailable()
    // watermark pusher: event at 12:00 moves watermark to 11:50 > 11:00
    in.addData(Ev(3, ts("2024-01-01 12:00:00"), 1, "click", 3.0))
    q.processAllAvailable()
    // this event is behind the watermark → dropped
    in.addData(Ev(4, ts("2024-01-01 10:30:00"), 1, "click", 4.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tumb")
      .select("win_start", "n", "sum_value").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    assert(rows.contains((ts("2024-01-01 10:00:00"), 2L, 3.0)),
      s"got ${rows.mkString(";")}")
    assert(!rows.exists(_._2 == 3L), "late event must not be re-counted")
  }

  test("sliding stream aggregate equals its batch twin (q58 semantics) on the same rows") {
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:40:00"), 1, "click", 1.0),
      Ev(3, ts("2024-01-01 10:55:00"), 2, "view", 1.0),
      Ev(4, ts("2024-01-01 11:20:00"), 2, "click", 1.0))
    // batch twin: same window(size, slide) grouping as q58
    val batch = evs.toDF()
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .count()
      .select(col("window.start").as("win_start"), col("event_type"), col("count").as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val in = MemoryStream[Ev]
    val q = StreamOps.slidingCounts(in.toDF(), "1 hour", "30 minutes", "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("slideq58").start()
    in.addData(evs: _*)
    q.processAllAvailable()
    // watermark pusher far past every window so all windows finalize
    in.addData(Ev(99, ts("2024-01-02 00:00:00"), 9, "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("slideq58")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .filter(_._2 != "flush").toSet
    assert(streamed == batch,
      s"stream/batch divergence: only-stream ${streamed -- batch}, only-batch ${batch -- streamed}")
  }

  test("stream-stream interval join matches within the window, evicts outside it") {
    val errors = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val joined = StreamOps.intervalJoin(
        errors.toDF(), purchases.toDF(), key = "user_id",
        interval = "1 HOUR", lateness = "10 minutes")
      .select(col("l.event_id").as("err_id"), col("r.event_id").as("purch_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj").start()
    purchases.addData(
      Ev(100, ts("2024-01-01 09:30:00"), 1, "purchase", 5.0), // within 1h of err 1
      Ev(101, ts("2024-01-01 07:00:00"), 1, "purchase", 5.0), // too old for err 1
      Ev(102, ts("2024-01-01 09:40:00"), 2, "purchase", 5.0)) // other user
    errors.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "error", 0.0))
    q.processAllAvailable()
    // push both watermarks forward so buffered state can be evicted
    purchases.addData(Ev(103, ts("2024-01-01 15:00:00"), 9, "purchase", 1.0))
    errors.addData(Ev(2, ts("2024-01-01 15:00:00"), 9, "error", 0.0))
    q.processAllAvailable()
    // a LATE purchase, hours behind the advanced watermark: with the
    // matching error's buffered state already evicted, it must produce
    // no retroactive join row — the bounded-state contract in action
    purchases.addData(Ev(104, ts("2024-01-01 09:45:00"), 1, "purchase", 5.0))
    q.processAllAvailable()
    val evicted = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsRemoved).sum
    q.stop()
    val rows = spark.table("ssj").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.contains((1L, 100L)), s"expected (1,100) in $rows")
    assert(!rows.contains((1L, 101L)), "purchase outside the interval joined")
    assert(!rows.contains((1L, 102L)), "purchase of another user joined")
    assert(!rows.contains((1L, 104L)), "late purchase joined after state eviction")
    assert(evicted > 0, "watermark advance never evicted buffered join state")
  }

  test("stream-static enrichment attaches dim columns, keeps unmatched rows, broadcasts") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Ev]
    val q = StreamOps.enrichWithDim(in.toDF(), dim, "user_id")
      .select(col("event_id"), col("tier"))
      .writeStream.outputMode("append").format("memory").queryName("enrich").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:01:00"), 2, "click", 1.0),
      Ev(3, ts("2024-01-01 10:02:00"), 7, "click", 1.0)) // no dim row
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enrich").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows == Set((1L, Some("gold")), (2L, Some("basic")), (3L, None)),
      s"got $rows")
    // the joiner is the same builder in batch — its plan must broadcast
    // the dim (map-side per micro-batch, the stream side never shuffles)
    val batchPlan = StreamOps.enrichWithDim(dim.limit(1), dim, "user_id")
      .queryExecution.executedPlan.toString
    assert(batchPlan.contains("BroadcastHashJoin"), s"dim not broadcast:\n$batchPlan")
  }

  test("sliding windows assign events to every overlapping window") {
    val in = MemoryStream[Ev]
    val q = StreamOps.slidingCounts(in.toDF(), "1 hour", "30 minutes", "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("slide").start()
    in.addData(Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0))
    q.processAllAvailable()
    in.addData(Ev(2, ts("2024-01-01 14:00:00"), 1, "view", 1.0)) // watermark pusher
    q.processAllAvailable()
    q.stop()
    val wins = spark.table("slide")
      .where(col("event_type") === "click")
      .collect().map(r => r.getTimestamp(0)).sorted.toSeq
    assert(wins == Seq(ts("2024-01-01 09:30:00"), ts("2024-01-01 10:00:00")),
      s"got $wins")
  }

  test("session windows split on inactivity gap") {
    val in = MemoryStream[Ev]
    val q = StreamOps.sessionCounts(in.toDF(), "30 minutes", "5 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    in.addData(
      Ev(1, ts("2024-01-01 09:00:00"), 7, "click", 0),
      Ev(2, ts("2024-01-01 09:10:00"), 7, "click", 0), // same session
      Ev(3, ts("2024-01-01 11:00:00"), 7, "click", 0)) // new session
    q.processAllAvailable()
    in.addData(Ev(4, ts("2024-01-01 15:00:00"), 8, "click", 0)) // watermark pusher
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess")
      .where(col("user_id") === 7).orderBy("session_start")
      .collect().map(r => (r.getTimestamp(0), r.getLong(3)))
    assert(sessions.toSeq == Seq(
      (ts("2024-01-01 09:00:00"), 2L), (ts("2024-01-01 11:00:00"), 1L)))
  }

  test("dropDuplicatesWithinWatermark removes stream duplicates") {
    val in = MemoryStream[Ev]
    val q = StreamOps.dedupWithinWatermark(in.toDF(), "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    in.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(1, ts("2024-01-01 10:00:30"), 1, "click", 1.0), // dup id within watermark
      Ev(2, ts("2024-01-01 10:01:00"), 1, "click", 2.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup").count() == 2)
  }

  test("sensor state machine emits tri-state verdicts per job") {
    val in = MemoryStream[Poll]
    val q = SensorStateMachine(in.toDS(), timeoutMs = 0L)
      .writeStream.outputMode("append").format("memory").queryName("sensor").start()
    in.addData(
      Poll(1, ts("2024-01-01 00:00:00"), "running"),
      Poll(2, ts("2024-01-01 00:00:00"), "running"))
    q.processAllAvailable()
    in.addData(
      Poll(1, ts("2024-01-01 00:01:00"), "success"),
      Poll(2, ts("2024-01-01 00:01:00"), "failure"))
    q.processAllAvailable()
    q.stop()
    val verdicts = spark.table("sensor").as[SensorVerdict].collect()
      .map(v => v.jobId -> ((v.verdict, v.nPolls))).toMap
    assert(verdicts(1L) == (("success", 2)))
    assert(verdicts(2L) == (("failed", 2)))
  }

  test("transformWithState sensor (RocksDB state) matches the fMGWS verdicts") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val in = MemoryStream[Poll](newProductEncoder[Poll], s2.sqlContext)
    val q = SensorProcessor(in.toDS())
      .writeStream.outputMode("append").format("memory").queryName("tws").start()
    in.addData(Poll(1, ts("2024-01-01 00:00:00"), "running"))
    q.processAllAvailable()
    in.addData(
      Poll(1, ts("2024-01-01 00:01:00"), "success"),
      Poll(2, ts("2024-01-01 00:01:00"), "failure"))
    q.processAllAvailable()
    q.stop()
    val verdicts = s2.table("tws").as[SensorVerdict].collect()
      .map(v => v.jobId -> ((v.verdict, v.nPolls))).toMap
    assert(verdicts(1L) == (("success", 2)))
    assert(verdicts(2L) == (("failed", 1)))
  }

  test("streaming near-dedup gate reproduces the batch q32 pair set (RocksDB state)") {
    // the incremental-daily corpus: the fixture arrives in three
    // micro-batch "days" in doc-id order; the accumulated signature
    // store must carry across batches, and the streamed verdicts must
    // equal the one-shot batch q32 pairs on the same corpus — the gate
    // and the batch share every hash, band key, and the exact integer
    // Jaccard predicate, so this is set equality, not approximation
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val docs = s2.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => DocRow(r.getLong(0), r.getString(1))).sortBy(_.doc_id)
    val in = MemoryStream[DocRow](newProductEncoder[DocRow], s2.sqlContext)
    val q = StreamNearDedup.pairs(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("ndg").start()
    docs.grouped((docs.length + 2) / 3).foreach { day =>
      in.addData(day.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    // a pair colliding in several bands is emitted once per band → distinct
    val streamed = s2.table("ndg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dedup.q32Pipeline(s2, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture must contain near-dup documents")
    assert(streamed == batch,
      s"stream missed ${(batch -- streamed).size}, invented ${(streamed -- batch).size} " +
        s"of ${batch.size} batch pairs")
  }

  test("streaming embedding near-dedup gate reproduces the batch q44 pair set (RocksDB state)") {
    // the embedding cell of the dedup matrix: the fixture's vectors
    // arrive in three micro-batch "days" in vec-id order; the
    // accumulated bucket stores must carry across batches, and the
    // streamed verdicts must equal the one-shot batch q44 pairs on the
    // same corpus — gate and batch share the 32×4 LSH geometry and the
    // sequential-double-fold cosine, so this is set equality of exact
    // values (cos included), not approximation
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val vecs = s2.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => EmbRow(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val in = MemoryStream[EmbRow](newProductEncoder[EmbRow], s2.sqlContext)
    val q = StreamEmbedDedup.pairs(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("edg").start()
    vecs.grouped((vecs.length + 2) / 3).foreach { day =>
      in.addData(day.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    // a pair colliding in several tables is emitted once per table → distinct
    val streamed = s2.table("edg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Similarity.neardupPairsPipeline(s2, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "fixture must contain embedding near-dups")
    assert(streamed == batch,
      s"stream missed ${(batch -- streamed).size}, invented ${(streamed -- batch).size} " +
        s"of ${batch.size} batch pairs")
  }

  test("streaming near-dedup TTL: expired signatures stop generating pairs; in-window pairs survive") {
    // the production state bound (VERDICT r6 #5): with a TTL configured,
    // a stored signature older than the TTL is gone from the candidate
    // set — a same-text arrival after expiry sees an EMPTY store and
    // emits nothing, so state tracks the TTL window's arrival volume,
    // not the life of the query.
    //
    // Harness note: TTL accounting runs in processing-time mode, where
    // the engine self-schedules state-cleanup batches — a continuous
    // query never quiesces under processAllAvailable, and even
    // Trigger.AvailableNow keeps scheduling cleanup batches (observed:
    // 282 batches without terminating). Each arrival therefore runs as
    // its own single-batch Trigger.Once query over a file source,
    // restarting from one shared RocksDB checkpoint — which doubles as
    // proof that the TTL'd signature store survives query restarts.
    import org.apache.spark.sql.streaming.{TTLConfig, Trigger}
    val text = "the quick brown fox jumps over the lazy dog again and " +
      "again every single day without fail in the morning light"
    def mkDirs() = {
      val root = java.nio.file.Files.createTempDirectory("ttlgate")
      (s"$root/in", s"$root/ckpt", s"$root/out")
    }
    def runGate(s: org.apache.spark.sql.SparkSession, dirs: (String, String, String),
        ttl: TTLConfig)(docId: Long): Unit = {
      val (in, ckpt, out) = dirs
      import s.implicits._
      Seq(DocRow(docId, text)).toDF().write.mode("append").json(in)
      val src = s.readStream.schema("doc_id LONG, text STRING").json(in)
      val q = StreamNearDedup.pairs(src, ttl)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.Once())
        .format("parquet").option("path", out)
        .start()
      assert(q.awaitTermination(120000), s"gate run for doc $docId did not finish")
    }
    def pairsAt(s: org.apache.spark.sql.SparkSession, out: String) =
      s.read.schema("d1 LONG, d2 LONG, jac DOUBLE").parquet(out)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // (a) short TTL, arrivals spaced past it: a stream of identical
    // texts yields ZERO pairs — every arrival's candidate set expired
    val dirsA = mkDirs()
    val runA = runGate(s2, dirsA, TTLConfig(java.time.Duration.ofMillis(800))) _
    (1L to 3L).foreach { i =>
      runA(i)
      Thread.sleep(2500) // comfortably past the 800 ms TTL
    }
    assert(pairsAt(s2, dirsA._3).isEmpty,
      "signatures older than the TTL must not generate pairs")
    // (b) generous TTL, arrivals inside the window: the gate's pairing
    // logic is unchanged by TTL mode — the same-text pair is emitted
    val dirsB = mkDirs()
    val runB = runGate(s2, dirsB, TTLConfig(java.time.Duration.ofMinutes(10))) _
    runB(1L)
    runB(2L)
    val pairsB = pairsAt(s2, dirsB._3)
    assert(pairsB == Set((1L, 2L, 1.0)),
      s"in-window same-text pair must survive TTL mode, got $pairsB")
  }

  test("JSON-lines source round-trips (the reference's payload format)") {
    val dir = java.nio.file.Files.createTempDirectory("jsonsrc").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").json(s"$dir/docs")
    val back = spark.read.json(s"$dir/docs")
    assert(back.count() == docs.count())
    assert(back.columns.sorted.sameElements(docs.columns.sorted))
  }

  test("ORC source round-trips with schema, values, and pushdown intact") {
    val dir = java.nio.file.Files.createTempDirectory("orcsrc").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").orc(s"$dir/docs")
    val back = spark.read.orc(s"$dir/docs")
    assert(back.schema == docs.schema)
    val a = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = back.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    // filters reach the ORC scan like they do the parquet one
    val p = back.filter(col("n_chars") > 100)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("GreaterThan(n_chars"),
      s"filter not pushed to ORC scan:\n$p")
  }

  test("CSV source round-trips with explicit schema and quoting intact") {
    val dir = java.nio.file.Files.createTempDirectory("csvsrc").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.write.mode("overwrite").option("header", "true").csv(s"$dir/docs")
    // schema-first read (never inferSchema on a 100 TB drop zone: one
    // pass to infer + one to read, and type drift across files)
    val back = spark.read.schema(docs.schema)
      .option("header", "true").csv(s"$dir/docs")
    assert(back.count() == docs.count())
    assert(back.schema == docs.schema)
    // values survive quoting/escaping — the text column dominates
    val a = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = back.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
    // and a registered-style gate runs identically on the CSV-backed frame
    val pv = graft.operators.Curation.gateVerdicts(docs)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    val cv = graft.operators.Curation.gateVerdicts(back)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    assert(pv == cv)
  }

  test("incremental file source with Trigger.AvailableNow drains and stops") {
    // models the reference's externally-triggered ingestion (R1/R7):
    // files land in a directory; each engine run drains what is available.
    val dir = java.nio.file.Files.createTempDirectory("filestream").toString
    val data = Seq(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:20:00"), 2, "view", 2.0))
    data.toDF().write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream
      .schema(data.toDF().schema)
      .parquet(s"$dir/in")
    val q = stream.groupBy(col("event_type")).count()
      .writeStream.outputMode("complete").format("memory").queryName("avnow")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("avnow").count() == 2)
  }

  test("batch router splits micro-batches into ok and dead-letter sinks") {
    val dir = java.nio.file.Files.createTempDirectory("router").toString
    val in = MemoryStream[Ev]
    val q = in.toDF().writeStream
      .foreachBatch(BatchRouter.parquetRouter(
        col("value") >= 0, s"$dir/ok", s"$dir/dead"))
      .start()
    in.addData(
      Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 5.0),
      Ev(2, ts("2024-01-01 00:00:00"), 1, "error", -1.0),
      Ev(3, ts("2024-01-01 00:00:00"), 1, "click", 2.0))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(s"$dir/ok").count() == 2)
    assert(spark.read.parquet(s"$dir/dead").count() == 1)
  }

  test("streaming curation gate verdicts equal the batch gate on the same docs") {
    // real fixture docs streamed in two micro-batches: verdicts must be
    // identical to the batch gate — the gate is stateless and row-local,
    // so incremental curation can never drift from a batch re-run
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batch = graft.operators.Curation.gateVerdicts(
        docs.toSeq.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.curationGate(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory").queryName("curate")
      .start()
    val (b1, b2) = docs.splitAt(docs.length / 2)
    in.addData(b1.toSeq: _*)
    q.processAllAvailable()
    in.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("curate")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    assert(streamed == batch,
      s"stream/batch divergence: only-stream ${(streamed -- batch).take(3)}, " +
        s"only-batch ${(batch -- streamed).take(3)}")
    assert(batch.exists(!_._2) || batch.exists(!_._3), "some doc should fail a gate")
  }

  test("streaming scrub-gate equals the batch scrub-gate and actually scrubs") {
    // dirty docs: PII + non-NFC unicode + tab runs, plus a clean one
    val docs = Seq(
      (1L, "write to op.ed+1@news.example.com \tabout café policy today"),
      (2L, "server 10.2.3.4 called 555-0100 twice Kelvin said"),
      (3L, "the plain and ordinary a document of text to keep"))
    val batch = StreamOps.scrubGate(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getBoolean(3)))
      .toSet
    // scrubbed: lowercase, NFC-composed, redacted, single-spaced
    val byId = batch.map(t => t._1 -> t._2).toMap
    assert(byId(1L) == "write to <EMAIL> about café policy today")
    assert(byId(2L) == "server <IP> called <PHONE> twice kelvin said")
    assert(byId(3L) == "the plain and ordinary a document of text to keep")
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.scrubGate(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory").queryName("scrub")
      .start()
    in.addData(docs.take(2): _*)
    q.processAllAvailable()
    in.addData(docs.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("scrub")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getBoolean(3)))
      .toSet
    assert(streamed == batch, "stream/batch scrub divergence")
  }

  test("funnel gate: strict order across micro-batches, state survives the batch boundary") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamFunnel.transitions(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("funnel")
      .start()
    // batch 1: u1 signs up and views; u2 views WITHOUT a signup (ignored)
    in.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 1.0),
      Ev(2, ts("2024-01-01 11:00:00"), 1, "view", 1.0),
      Ev(3, ts("2024-01-01 10:30:00"), 2, "view", 1.0))
    q.processAllAvailable()
    // batch 2: u1 purchases (needs batch-1 state); u2 purchases (still stage 0);
    // u3 purchases with no funnel history at all
    in.addData(
      Ev(4, ts("2024-01-01 12:00:00"), 1, "purchase", 1.0),
      Ev(5, ts("2024-01-01 12:30:00"), 2, "purchase", 1.0),
      Ev(6, ts("2024-01-01 12:45:00"), 3, "purchase", 1.0))
    q.processAllAvailable()
    q.stop()
    val got = s2.table("funnel")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "signup"), (1L, "view"), (1L, "purchase")),
      s"got $got")
  }

  test("funnel gate on an in-order stream reaches exactly q105's terminal stages") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamFunnel.transitions(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("funnelq105")
      .start()
    // two arrival chunks so per-user state crosses a batch boundary
    in.addData(evs.take(evs.length / 2): _*)
    q.processAllAvailable()
    in.addData(evs.drop(evs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val rank = Map("signup" -> 1, "view" -> 2, "purchase" -> 3)
    val streamed = s2.table("funnelq105")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(t => rank(t._2)).max).toMap
    val batch = graft.operators.WindowOps.q105.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), rank(r.getString(1)))).toMap
    assert(streamed == batch, s"stream/batch funnel divergence: " +
      s"only-stream=${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
  }

  test("deadline funnel on an in-order stream reaches exactly q144's stage sets") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val dayUs = 86400L * 1000000L
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamFunnel.transitions(in.toDF(), deadlineUs = Some(dayUs))
      .writeStream.outputMode("append").format("memory").queryName("funnelq144")
      .start()
    // two arrival chunks so per-user deadline state crosses a
    // micro-batch boundary
    in.addData(evs.take(evs.length / 2): _*)
    q.processAllAvailable()
    in.addData(evs.drop(evs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val rank = Map("signup" -> 1, "view" -> 2, "purchase" -> 3)
    val streamed = s2.table("funnelq144")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(t => rank(t._2)).max).toMap
    // batch q144's per-user stage sets, recomputed naively: min signup,
    // min view within 24h of it, min purchase within 24h of that.
    // µs conversion must match unix_micros exactly (getTime alone drops
    // sub-ms precision the fixtures carry)
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val byUser = evs.groupBy(_.user_id)
    val expected = byUser.flatMap { case (u, rows) =>
      val us = rows.sortBy(e => (toUs(e.ts), e.event_id))
        .map(e => (e.event_type, toUs(e.ts)))
      us.collectFirst { case ("signup", t) => t }.map { sUs =>
        val vUs = us.collectFirst {
          case ("view", t) if t > sUs && t <= sUs + dayUs => t }
        val pUs = vUs.flatMap(v => us.collectFirst {
          case ("purchase", t) if t > v && t <= v + dayUs => t })
        u -> (if (pUs.isDefined) 3 else if (vUs.isDefined) 2 else 1)
      }
    }
    assert(streamed == expected, s"stream/batch deadline-funnel divergence: " +
      s"only-stream=${streamed.toSet -- expected.toSet}, only-batch=${expected.toSet -- streamed.toSet}")
    // ...and the registered q144 counts are exactly the stage-set sizes
    val batchCounts = graft.operators.WindowOps.q144.fn(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(batchCounts("1_signup") == expected.size)
    assert(batchCounts("2_view_24h") == expected.count(_._2 >= 2))
    assert(batchCounts("3_purchase_24h") == expected.count(_._2 == 3))
  }

  test("transition counter on an in-order stream reproduces exactly q107's counts") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamTransitions.transitions(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("transq107")
      .start()
    // two arrival chunks so the per-user last-event state crosses a
    // micro-batch boundary
    in.addData(evs.take(evs.length / 2): _*)
    q.processAllAvailable()
    in.addData(evs.drop(evs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s2.table("transq107")
      .groupBy(col("src"), col("dst")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.WindowOps.q107.fn(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, s"stream/batch transition divergence: " +
      s"only-stream=${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
  }

  test("trigram miner on an in-order stream reproduces exactly q189's top-20") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamTrigrams.trigrams(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("triq189")
      .start()
    // two arrival chunks so the two-event window state crosses a
    // micro-batch boundary mid-trigram
    in.addData(evs.take(evs.length / 2): _*)
    q.processAllAvailable()
    in.addData(evs.drop(evs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val streamedTop = s2.table("triq189")
      .groupBy(col("t1"), col("t2"), col("t3")).count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy { case (a, b, c, n) => (-n, a, b, c) }.take(20).toSeq
    val batch = graft.operators.WindowOps.q189.fn(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(streamedTop == batch, s"stream/batch trigram divergence: " +
      s"only-stream=${streamedTop.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamedTop.toSet}")
  }

  test("streaming quantile sketch: end gauge equals a driver replay of q193's bin math") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamQuantileSketch.gauge(StreamQuantileSketch.keyed(in.toDF()))
      .writeStream.outputMode("append").format("memory").queryName("quantg")
      .start()
    // two arrival chunks so bin state crosses a micro-batch boundary
    in.addData(evs.take(evs.length / 2): _*)
    q.processAllAvailable()
    in.addData(evs.drop(evs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    // final emission per type = the last row per type in emission order
    val emitted = s2.table("quantg").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
    val finals = emitted.zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1._2).toMap
    // driver replay with the same integer bin math and rank rule
    def micro(v: Double): Long = math.max(0L,
      BigDecimal(v * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val expected = evs.groupBy(_.event_type).view.mapValues { es =>
      val ids = es.map(e => QuantProcessor.binId(micro(e.value))).sorted
      val n = ids.length.toLong
      def pickBounds(p: Int): (Long, Long) = {
        val pos = (n * p + 99) / 100
        val id = ids((pos - 1).toInt)
        (QuantProcessor.lo(id), QuantProcessor.hi(id))
      }
      val (a, b) = pickBounds(50); val (c, d) = pickBounds(90)
      val (e, f) = pickBounds(99)
      (n, a, b, c, d, e, f)
    }.toMap
    assert(finals == expected, s"stream/replay divergence: " +
      s"only-stream=${finals.toSet -- expected.toSet}, only-replay=${expected.toSet -- finals.toSet}")
    // the state stayed bin-bounded: every type's distinct bin count is
    // far below its reading count (the compression is real)
    val nBins = evs.groupBy(_.event_type).view
      .mapValues(_.map(e => QuantProcessor.binId(micro(e.value))).distinct.length)
    nBins.foreach { case (t, b) =>
      assert(b <= 16 * 64, s"$t: $b bins exceeds the structural bound")
    }
    // strictly fewer bins than readings even on the tiny fixture; the
    // structural 16·64 ceiling above is the scale claim (state stops
    // growing entirely once every touchable bin is hot)
    assert(nBins.values.sum < evs.length, "bins do not compress the readings")
  }

  test("buffered funnel: out-of-order arrival within the watermark still equals q105") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    // adversarial arrival: the 5 minutes of events just before the split
    // instant are HELD BACK into batch 2 (≤ the 10-minute watermark
    // delay, so they are not late), and both batches are internally
    // shuffled — the plain in-order gate's contract is violated across
    // the batch boundary, the buffered gate's is not
    val cutMs = evs(evs.length / 2).ts.getTime
    val (early, tail) = evs.partition(_.ts.getTime <= cutMs)
    val (held, b1) = early.partition(_.ts.getTime > cutMs - 5 * 60 * 1000)
    assert(held.nonEmpty, "fixture has no events in the held-back window")
    def shuffled(xs: Array[Ev]) = xs.sortBy(e => (e.event_id % 13, e.event_id))
    val maxTs = evs.map(_.ts.getTime).max
    val flush = Ev(10000000L, new java.sql.Timestamp(maxTs + 86400000L),
      999999L, "noop", 0.0)
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamFunnelBuffered.transitions(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("funnelbuf")
      .start()
    in.addData(shuffled(b1): _*)
    q.processAllAvailable()
    in.addData(shuffled(held ++ tail): _*)
    q.processAllAvailable()
    // the flush event advances the watermark past every real event so
    // all buffered prefixes finalize
    in.addData(flush)
    q.processAllAvailable()
    q.stop()
    val rank = Map("signup" -> 1, "view" -> 2, "purchase" -> 3)
    val streamed = s2.table("funnelbuf")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(_._1 != 999999L)
      .groupBy(_._1).view.mapValues(_.map(t => rank(t._2)).max).toMap
    val batch = graft.operators.WindowOps.q105.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), rank(r.getString(1)))).toMap
    assert(streamed == batch, s"buffered funnel diverged under reordering: " +
      s"only-stream=${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
  }

  test("buffered transition counter: out-of-order arrival still equals q107") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    // same adversarial shape as the buffered-funnel spec: a 5-minute
    // band held back across the batch boundary, both batches shuffled
    val cutMs = evs(evs.length / 2).ts.getTime
    val (early, tail) = evs.partition(_.ts.getTime <= cutMs)
    val (held, b1) = early.partition(_.ts.getTime > cutMs - 5 * 60 * 1000)
    assert(held.nonEmpty)
    def shuffled(xs: Array[Ev]) = xs.sortBy(e => (e.event_id % 13, e.event_id))
    val maxTs = evs.map(_.ts.getTime).max
    val flush = Ev(10000000L, new java.sql.Timestamp(maxTs + 86400000L),
      999999L, "noop", 0.0)
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamTransitionsBuffered.transitions(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("transbuf")
      .start()
    in.addData(shuffled(b1): _*)
    q.processAllAvailable()
    in.addData(shuffled(held ++ tail): _*)
    q.processAllAvailable()
    in.addData(flush)
    q.processAllAvailable()
    q.stop()
    val streamed = s2.table("transbuf")
      .filter(col("userId") =!= 999999L)
      .groupBy(col("src"), col("dst")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.WindowOps.q107.fn(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, s"buffered transitions diverged under reordering: " +
      s"only-stream=${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
  }

  test("buffered retention: out-of-order arrival still folds to q106's triangle") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    // same adversarial shape as the buffered-funnel spec: a 5-minute
    // band held back across the batch boundary, both batches shuffled
    val cutMs = evs(evs.length / 2).ts.getTime
    val (early, tail) = evs.partition(_.ts.getTime <= cutMs)
    val (held, b1) = early.partition(_.ts.getTime > cutMs - 5 * 60 * 1000)
    assert(held.nonEmpty)
    def shuffled(xs: Array[Ev]) = xs.sortBy(e => (e.event_id % 13, e.event_id))
    val maxTs = evs.map(_.ts.getTime).max
    val flush = Ev(10000000L, new java.sql.Timestamp(maxTs + 86400000L),
      999999L, "noop", 0.0)
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamRetentionBuffered.hits(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("retbuf")
      .start()
    in.addData(shuffled(b1): _*)
    q.processAllAvailable()
    in.addData(shuffled(held ++ tail): _*)
    q.processAllAvailable()
    in.addData(flush)
    q.processAllAvailable()
    q.stop()
    val hits = s2.table("retbuf").filter(col("userId") =!= 999999L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(hits.length == hits.distinct.length, "duplicate retention hits")
    val streamed = hits.groupBy(h => (h._2, h._3))
      .map { case (k, v) => k -> v.length.toLong }
    val batch = graft.operators.WindowOps.q106.fn(spark, sf0001)
      .collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(streamed == batch, s"buffered retention diverged under reordering: " +
      s"only-stream=${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
  }

  test("concurrency gauge: level survives the batch boundary within a day") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    // the gauge consumes a DELTA stream (a production feed emits +1 on
    // session open and -1 on close as separate wire events, in time
    // order); two opens land in batch 1, the third open + all closes in
    // batch 2 — the true peak 3 requires batch-1's standing level
    val day = 19723 // 2024-01-01
    val base = 19723L * 86400L * 1000000L
    val in = MemoryStream[(Int, Long, Int, Long)](
      newProductEncoder[(Int, Long, Int, Long)], s2.sqlContext)
    val q = StreamConcurrency.gauge(
        in.toDF().toDF("day", "tUs", "delta", "eventId"))
      .writeStream.outputMode("append").format("memory").queryName("conc")
      .start()
    in.addData((day, base, 1, 1L), (day, base + 30_000000L, 1, 2L))
    q.processAllAvailable()
    in.addData(
      (day, base + 60_000000L, 1, 3L),
      (day, base + 100_000000L, -1, 1L),
      (day, base + 130_000000L, -1, 2L),
      (day, base + 160_000000L, -1, 3L))
    q.processAllAvailable()
    q.stop()
    val peaks = s2.table("conc").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(peaks.map(_._2).max == 3L, s"got ${peaks.mkString(";")}")
  }

  test("concurrency gauge on an in-order delta stream reaches exactly q108's per-day peaks") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    // precompute day-clipped deltas from the fixture, deliver in global
    // event-time order so every day-key's subsequence is in order
    val deltaRows = StreamConcurrency.deltas(graft.Tables(s2, sf0001).events)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy { case (_, t, d, id) => (t, d, id) }
    val in = MemoryStream[(Int, Long, Int, Long)](
      newProductEncoder[(Int, Long, Int, Long)], s2.sqlContext)
    val q = StreamConcurrency.gauge(
        in.toDF().toDF("day", "tUs", "delta", "eventId"))
      .writeStream.outputMode("append").format("memory").queryName("concq108")
      .start()
    in.addData(deltaRows.take(deltaRows.length / 2): _*)
    q.processAllAvailable()
    in.addData(deltaRows.drop(deltaRows.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s2.table("concq108").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val batch = graft.operators.Analytic.q108.fn(spark, sf0001).collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay.toInt, r.getLong(2))).toMap
    assert(streamed == batch, s"stream/batch concurrency divergence: " +
      s"only-stream=${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
  }

  test("heavy-hitter gate: final shard candidates + exact recount reproduce batch q86") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val tokRows = StreamHeavyHitters
      .tokenShards(graft.Tables(s2, sf0001).documents, 16)
      .collect().map(r => (r.getInt(1), r.getString(0)))
    val in = MemoryStream[(Int, String)](
      newProductEncoder[(Int, String)], s2.sqlContext)
    val q = StreamHeavyHitters.gauge(
        in.toDF().toDF("shard", "token"), capacity = 512)
      .writeStream.outputMode("append").format("memory").queryName("hh")
      .start()
    // two arrival chunks: per-shard MG state must carry across the batch
    // boundary for split-count tokens to stay above their floor
    in.addData(tokRows.take(tokRows.length / 2): _*)
    q.processAllAvailable()
    in.addData(tokRows.drop(tokRows.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    // final emission per shard = rows carrying that shard's max nSeen
    val all = s2.table("hh").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val finalBy = all.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val last = rows.map(_._4).max
      rows.filter(_._4 == last).toSeq
    }
    val candidates = finalBy.map(_._2).toSet
    // exact recount over the full token stream (the batch verify pass)
    val counts = tokRows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = tokRows.length.toLong
    val trueHeavy = counts.collect { case (t, c) if c * 64 > n => t }.toSet
    assert(trueHeavy.subsetOf(candidates),
      s"MG guarantee violated; missing=${trueHeavy -- candidates}")
    val gateOutput = candidates.filter(t => counts(t) * 64 > n)
    val batch = graft.operators.TextOps.q86.fn(spark, sf0001).collect()
      .map(_.getString(0)).toSet
    assert(gateOutput == batch,
      s"stream/batch heavy-hitter divergence: only-stream=${gateOutput -- batch}, " +
        s"only-batch=${batch -- gateOutput}")
  }

  test("drift gate: latest per-cell counts fold to exactly q122's PSI table") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val ev = graft.Tables(s2, sf0001).events
    // the training window (q122's period a) is the static baseline; the
    // month's second half arrives as the live stream in two chunks
    val baseline = StreamDrift.baselineBins(ev.filter(dayofmonth(col("ts")) <= 15))
    val liveRows = StreamDrift.binned(ev.filter(dayofmonth(col("ts")) > 15), 8)
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val in = MemoryStream[(Int, Int)](newProductEncoder[(Int, Int)], s2.sqlContext)
    val q = StreamDrift.gauge(in.toDF().toDF("cell", "bin"))
      .writeStream.outputMode("append").format("memory").queryName("drift")
      .start()
    in.addData(liveRows.take(liveRows.length / 2): _*)
    q.processAllAvailable()
    in.addData(liveRows.drop(liveRows.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val entries = s2.table("drift")
    // per-cell counts must carry across the micro-batch boundary
    val perCellEmissions = entries.collect().map(r => (r.getInt(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(perCellEmissions.values.exists(_.size > 1),
      "no cell emitted a raised count in batch 2; state carry untested")
    val got = StreamDrift.psi(entries, baseline, 8).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val batch = graft.operators.Analytic.q122.fn(s2, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == batch.toSeq,
      s"stream/batch PSI divergence:\n stream=${got.mkString(";")}\n batch=${batch.mkString(";")}")
  }

  test("distinct gauge: end-of-stream sketch estimates equal batch hll_sketch_agg bit-for-bit") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val dayRows = StreamDistinct.dayUsers(graft.Tables(s2, sf0001).events)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val in = MemoryStream[(Int, Long)](newProductEncoder[(Int, Long)], s2.sqlContext)
    val q = StreamDistinct.gauge(in.toDF().toDF("day", "userId"))
      .writeStream.outputMode("append").format("memory").queryName("wau")
      .start()
    in.addData(dayRows.take(dayRows.length / 2): _*)
    q.processAllAvailable()
    in.addData(dayRows.drop(dayRows.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    // register state only grows → estimates are monotone; latest = max
    val streamed = s2.table("wau").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val batch = StreamDistinct.dayUsers(graft.Tables(s2, sf0001).events)
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("userId"))).as("est"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(streamed == batch,
      s"stream/batch sketch divergence: " +
        s"only-stream=${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
    // cross-boundary growth: some day's estimate rose in batch 2
    val perDay = s2.table("wau").collect().map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(perDay.values.exists(_.size > 1),
      "no day re-emitted a grown estimate; state carry untested")
  }

  test("deterministic HLL gauge: end-of-stream registers equal batch q178 exactly") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    // ordered by user so the SECOND batch introduces users (and thus
    // registers) the first one never saw — the fixture's ~15 users per
    // type would otherwise all land in batch 1 and leave the
    // cross-boundary growth probe vacuous
    val rows = StreamHllDeterministic.keyUsers(graft.Tables(s2, sf0001).events)
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._2)
    val in = MemoryStream[(String, Long)](newProductEncoder[(String, Long)], s2.sqlContext)
    val q = StreamHllDeterministic.gauge(in.toDF().toDF("eventType", "userId"))
      .writeStream.outputMode("append").format("memory").queryName("dethll")
      .start()
    in.addData(rows.take(rows.length / 2): _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    // take each type's FINAL emission by emission order (memory-sink rows
    // append in batch order) — maxBy(present) would return a stale
    // estimate if a later batch only raised an existing register's rank
    // (present unchanged, estimate changed)
    val streamed = s2.table("dethll").collect().zipWithIndex
      .map { case (r, i) => (r.getString(0), r.getInt(1), r.getDouble(2), i) }
      .groupBy(_._1).view.mapValues(v => v.maxBy(_._4)).toMap
      .map { case (k, (_, p, e, _)) => k -> ((p, e)) }
    // batch q178 (daily pages max-merged — the union law makes the two
    // register sets identical) at the same fixture
    val batch = graft.operators.Analytic.q178.fn(s2, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getInt(2), r.getDouble(4)))).toMap
    assert(streamed == batch,
      s"stream/batch deterministic-HLL divergence: only-stream=" +
        s"${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
    // cross-boundary growth: some type re-emitted a grown register set
    val perType = s2.table("dethll").collect()
      .map(r => (r.getString(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(perType.values.exists(_.size > 1),
      "no type re-emitted grown registers; state carry untested")
  }

  test("freshness monitor: final per-feed anchors equal batch q145's last-seen and totals") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val rows = StreamFreshness.typeSeen(graft.Tables(s2, sf0001).events)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val in = MemoryStream[(String, Long)](
      newProductEncoder[(String, Long)], s2.sqlContext)
    val q = StreamFreshness.gauge(in.toDF().toDF("eventType", "us"))
      .writeStream.outputMode("append").format("memory").queryName("fresh")
      .start()
    in.addData(rows.take(rows.length / 2): _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    // latest emission per feed = the one carrying its max count
    val streamed = s2.table("fresh").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(es => es.maxBy(_._3)).toMap
    val batch = graft.operators.Analytic.q145.fn(s2, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (t, (lastUs, nTotal)) =>
      val (_, gotLast, gotN) = streamed(t)
      assert(gotLast == lastUs && gotN == nTotal,
        s"$t: stream ($gotLast,$gotN) vs batch ($lastUs,$nTotal)")
    }
  }

  test("attribution hits on an in-order stream fold to exactly q169's table") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamAttribution.hits(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("attrq169")
      .start()
    // two arrival chunks so the touch state crosses a micro-batch
    // boundary mid-history
    in.addData(evs.take(evs.length / 2): _*)
    q.processAllAvailable()
    in.addData(evs.drop(evs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val hits = s2.table("attrq169").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val streamed = hits.groupBy(_._2).map { case (t, v) => t -> v.length.toLong }
    val batch = graft.operators.WindowOps.q169.fn(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch, s"stream/batch attribution divergence: " +
      s"stream=$streamed batch=$batch")
    // exactly one hit per purchase (conservation, live form)
    val purchases = evs.count(_.event_type == "purchase").toLong
    assert(hits.length.toLong == purchases)
  }

  test("retention hits on an in-order stream fold to exactly q106's triangle") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
    val q = StreamRetention.hits(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("retq106")
      .start()
    // two arrival chunks so cohort + dedup state crosses a micro-batch
    // boundary mid-history for most users
    in.addData(evs.take(evs.length / 2): _*)
    q.processAllAvailable()
    in.addData(evs.drop(evs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val hits = s2.table("retq106").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // exactly-once per (user, day): the hit multiset must be a set
    assert(hits.length == hits.distinct.length, "duplicate retention hits")
    val streamed = hits.groupBy(h => (h._2, h._3))
      .map { case (k, v) => k -> v.length.toLong }
    val batch = graft.operators.WindowOps.q106.fn(spark, sf0001)
      .collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(streamed == batch, s"stream/batch retention divergence: " +
      s"only-stream=${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
  }

  test("streaming LOCF reproduces batch q91 exactly across a micro-batch boundary") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val batch = graft.operators.WindowOps.q91.fn(s2, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // the observed hourly means only — gap hours must come from the
    // stream's carry state, not the feed
    val hourly = graft.Tables(s2, sf0001).events
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"),
        col("value"))
      .groupBy(col("event_type"), col("h"))
      .agg(graft.Det.davg(col("value")).as("v"))
      .select(col("event_type"), unix_timestamp(col("h")).as("hour_epoch"),
        col("v"))
      .collect()
      .map(r => HourlyRow(r.getString(0), r.getLong(1), Some(r.getDouble(2))))
      .sortBy(r => (r.hour_epoch, r.event_type))
    assert(hourly.length < batch.size,
      "fixture must contain gap hours for the carry path to fill")
    val in = MemoryStream[HourlyRow](newProductEncoder[HourlyRow], s2.sqlContext)
    val q = StreamLocf.filled(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("locf").start()
    // two "days": the global-hour split lands mid-span for every type
    // that straddles the median hour, so carry state must cross batches
    hourly.grouped((hourly.length + 1) / 2).foreach { b =>
      in.addData(b.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = s2.table("locf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch,
      s"stream missed ${(batch -- streamed).size}, invented ${(streamed -- batch).size} " +
        s"of ${batch.size} batch rows")
  }

  test("streaming LOCF None ticks: span-extension and pre-observation drop match batch frame semantics") {
    // Pins the documented v=None contract with a None-BEARING fixture:
    // batch q91's frame is min..max over ALL hourly rows (null-v rows
    // included) with last(ignoreNulls) filling them, so a None tick past
    // the last observation extends the span with the carried value; a
    // None tick before any observation yields batch NULL v_locf rows,
    // which the non-null LocfTick stream deliberately drops.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val H = 3600L
    val feed = Seq(
      HourlyRow("b", 0L, None),            // pre-observation None: dropped
      HourlyRow("a", 0L, Some(1.0)),
      HourlyRow("a", 3 * H, None),         // mid-span None: extends, carries 1.0
      HourlyRow("a", 5 * H, Some(2.0)),
      HourlyRow("b", 1 * H, Some(5.0)),
      HourlyRow("a", 7 * H, None))         // trailing None: extends, carries 2.0
    // batch twin computed with q91's exact formula on the same frame
    val hourlyDf = feed.toDF("event_type", "hour_epoch", "v")
    val frame = hourlyDf.groupBy(col("event_type"))
      .agg(min(col("hour_epoch")).as("h0"), max(col("hour_epoch")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), lit(H))).as("hour_epoch"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour_epoch"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val batchRows = frame.join(hourlyDf, Seq("event_type", "hour_epoch"), "left")
      .select(col("event_type"), col("hour_epoch"),
        last(col("v"), ignoreNulls = true).over(w).as("v_locf"))
      .collect()
    val batchNonNull = batchRows.filter(!_.isNullAt(2))
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // the fixture must actually exercise the dropped-head branch
    assert(batchRows.exists(_.isNullAt(2)), "fixture lost its pre-observation None row")
    val in = MemoryStream[HourlyRow](newProductEncoder[HourlyRow], s2.sqlContext)
    val q = StreamLocf.filled(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("locf_none").start()
    // micro-batch boundary lands right after the mid-span None
    val (b1, b2) = feed.sortBy(_.hour_epoch).splitAt(4)
    Seq(b1, b2).foreach { b => in.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val streamed = s2.table("locf_none").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batchNonNull,
      s"only-stream=${streamed -- batchNonNull}, only-batch=${batchNonNull -- streamed}")
    // the trailing None really extended the span to hour 7
    assert(streamed.contains(("a", 7 * H, 2.0)))
    // and the pre-observation None emitted nothing for key b at hour 0
    assert(!streamed.exists { case (k, h, _) => k == "b" && h == 0L })
  }

  test("streaming interval coverage: end-of-stream gauge equals batch q182 exactly") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val t = graft.Tables(s2, sf0001)
    // in-order contract: global (s, e, orderKey, lineNumber) order makes
    // every per-key subsequence ordered; the batch split lands mid-span
    // for many suppliers, so state carry is exercised hard
    val rows = StreamCoverage.intervals(t.lineitem, t.orders).collect()
      .map(r => IntervalRow(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4)))
      .sortBy(r => (r.s, r.e, r.orderKey, r.lineNumber))
    val in = MemoryStream[IntervalRow](newProductEncoder[IntervalRow], s2.sqlContext)
    val q = StreamCoverage.gauge(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("cov")
      .start()
    in.addData(rows.take(rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    in.addData(rows.drop(rows.length / 2).toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    // latest emission per supplier by emission order (memory-sink rows
    // append in batch order)
    val streamed = s2.table("cov").collect().zipWithIndex
      .map { case (r, i) =>
        (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)), i)
      }
      .groupBy(_._1).view.mapValues(v => v.maxBy(_._3)._2).toMap
    val batch = graft.operators.WindowOps.q182.fn(s2, sf0001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5).toLong))).toMap
    assert(streamed == batch,
      s"stream/batch coverage divergence: only-stream=" +
        s"${streamed.toSet -- batch.toSet}, only-batch=${batch.toSet -- streamed.toSet}")
    // cross-boundary state carry: some supplier's gauge GREW in batch 2
    val perKey = s2.table("cov").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(perKey.values.exists(_.size > 1),
      "no supplier re-emitted a grown gauge; state carry untested")
  }
  test("streaming count-min: end counter table equals batch q190's counters across a batch boundary") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    // one row per item OCCURRENCE — the live feed q190's exact frame
    // pre-aggregates; counter sums must agree by the sum-merge law
    val keys = graft.Tables(s2, sf0001).lineitem
      .select(col("l_partkey")).collect().map(_.getLong(0))
    val in = MemoryStream[Long](newLongEncoder, s2.sqlContext)
    val q = StreamCountMin.gauge(StreamCountMin.cells(in.toDF().toDF("k")))
      .writeStream.outputMode("append").format("memory").queryName("cmsg")
      .start()
    // two arrival chunks so counter state crosses a micro-batch boundary
    in.addData(keys.take(keys.length / 2): _*)
    q.processAllAvailable()
    in.addData(keys.drop(keys.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    // final emission per cell = the last row per cell in emission order
    val emitted = s2.table("cmsg").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val finals = emitted.zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1._2).toMap
    // batch q190 counter build over the same feed
    val exact = graft.Tables(s2, sf0001).lineitem
      .groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("n_exact"))
    val batch = graft.operators.Analytic.cmsCountersOf(exact).collect()
      .map(r => (r.getInt(0) * StreamCountMin.Width + r.getInt(1),
        r.getLong(2))).toMap
    assert(finals == batch, s"stream/batch counter divergence: " +
      s"only-stream=${(finals.toSet -- batch.toSet).take(5)}, " +
      s"only-batch=${(batch.toSet -- finals.toSet).take(5)}")
    // the state bound: touched cells never exceed the d*w structural grid
    assert(finals.size <= 4 * StreamCountMin.Width)
    // counters really accumulated across the boundary: total mass = 4 rows per occurrence
    assert(finals.values.sum == 4L * keys.length)
  }
  test("streaming Benford gauge: end cell table equals the batch digit grid across a batch boundary") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val in = MemoryStream[(String, Double)](
      newProductEncoder[(String, Double)], s2.sqlContext)
    val q = StreamBenford.gauge(
        StreamBenford.cells(in.toDF().toDF("event_type", "value")))
      .writeStream.outputMode("append").format("memory").queryName("benfg")
      .start()
    in.addData(evs.take(evs.length / 2): _*)
    q.processAllAvailable()
    in.addData(evs.drop(evs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val emitted = s2.table("benfg").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2)))
    val finals = emitted.zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1._2).toMap
    // batch grid: q215's observed digit counts
    def cents(v: Double): Long =
      BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val batch = evs.map { case (t, v) => (t, cents(v)) }
      .filter(_._2 > 0)
      .map { case (t, c) => (t, c.toString.head.asDigit) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(finals == batch, s"stream/batch digit-grid divergence: " +
      s"only-stream=${(finals.toSet -- batch.toSet).take(5)}, " +
      s"only-batch=${(batch.toSet -- finals.toSet).take(5)}")
    // cell state is structurally bounded: <= 9 digits per type
    finals.keys.groupBy(_._1).values.foreach(g => assert(g.size <= 9))
  }

  test("StreamKs cell grid equals the (type, cent) frame q223's KS math consumes, across a micro-batch boundary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val in = MemoryStream[(String, Double)](
      newProductEncoder[(String, Double)], s2.sqlContext)
    val q = StreamKs.gauge(
        StreamKs.cells(in.toDF().toDF("event_type", "value")))
      .writeStream.outputMode("append").format("memory").queryName("ksg")
      .start()
    in.addData(evs.take(evs.length / 2): _*)
    q.processAllAvailable()
    in.addData(evs.drop(evs.length / 2): _*)
    q.processAllAvailable()
    q.stop()
    val emitted = s2.table("ksg").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
    val finals = emitted.zipWithIndex.groupBy(_._1._1).view
      .mapValues(_.maxBy(_._2)._1._2).toMap
    def cents(v: Double): Long =
      BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val batch = evs.map { case (t, v) => (t, cents(v)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(finals == batch, "stream/batch cent-grid divergence")
    // replaying q223's integer KS fold off the LIVE cells reproduces the
    // batch query's D exactly — the gauge carries the full drift signal
    val vals = batch.keys.map(_._2).toSeq.distinct.sorted
    val types = batch.keys.map(_._1).toSeq.distinct
    val nAll = batch.values.sum
    def cum(t: Option[String]): Map[Long, Long] = {
      var s = 0L
      vals.map { v =>
        s += batch.filter { case ((tt, vv), _) =>
          vv == v && t.forall(_ == tt) }.values.sum
        v -> s
      }.toMap
    }
    val fAll = cum(None)
    val live = types.map { t =>
      val fG = cum(Some(t))
      val nG = batch.filter(_._1._1 == t).values.sum
      val best = vals.map { v =>
        ((BigInt(fG(v)) * nAll - BigInt(fAll(v)) * nG).abs, v)
      }.maxBy { case (d, v) => (d, -v) }
      (t, nG, (best._1 * 1000000 / (BigInt(nG) * nAll)).toLong, best._2)
    }.sortBy(_._1)
    val got = graft.operators.Analytic.q223.fn(s2, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(live == got, s"live KS fold diverges from batch q223")
  }

  test("streaming blocklist gate folds to batch q229 across a micro-batch boundary") {
    // stateless ingest enforcement of the q229 curation gate: flagged
    // (doc, token) rows per micro-batch; folding them downstream must
    // reproduce the nightly batch table exactly, split across batches
    val docs = graft.Tables(spark, sf0001).documents
      .select(col("doc_id"), col("text"))
      .collect().map(r => DocRow(r.getLong(0), r.getString(1)))
    val in = MemoryStream[DocRow]
    val q = StreamOps.blocklistHits(in.toDF(), Seq("dup", "slow", "legacy"))
      .writeStream.outputMode("append").format("memory").queryName("blockhits")
      .start()
    in.addData(docs.take(docs.length / 2).toSeq: _*)
    q.processAllAvailable()
    in.addData(docs.drop(docs.length / 2).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val folded = spark.table("blockhits")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("token")).as("n_terms"),
        min(col("token")).as("sample_term"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batch = graft.operators.TextOps.q229.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(folded == batch, s"streamed blocklist fold diverges from q229: " +
      s"only-stream=${(folded -- batch).take(3)}, only-batch=${(batch -- folded).take(3)}")
    assert(folded.nonEmpty, "fixture has no blocklist hits; gate unexercised")
  }

  test("streaming FK-orphan gate matches batch q238's audit kernel across a micro-batch boundary") {
    // live twin of the referential-integrity census: orphans emitted at
    // ingest, null FKs passing, duplicate dim pks not multiplying rows
    import spark.implicits._
    val dim = Seq(1L, 2L, 2L, 3L).toDF("pk") // duplicate pk on purpose
    val in = MemoryStream[FactRow]
    val q = StreamOps.fkOrphans(in.toDF(), "fk", dim, "pk")
      .writeStream.outputMode("append").format("memory").queryName("fkorphans")
      .start()
    in.addData(FactRow(1, Some(1L)), FactRow(2, Some(2L)), FactRow(3, Some(9L)),
      FactRow(4, None))
    q.processAllAvailable()
    in.addData(FactRow(5, Some(2L)), FactRow(6, Some(8L)), FactRow(7, Some(7L)),
      FactRow(8, Some(3L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("fkorphans").collect()
      .map(r => (r.getLong(r.fieldIndex("row_id")), r.getLong(r.fieldIndex("fk"))))
      .toSet
    assert(got == Set((3L, 9L), (6L, 8L), (7L, 7L)),
      s"orphan gate emitted wrong rows: $got")
    // fold ≡ the batch audit kernel on the same frames
    val facts = Seq(Some(1L), Some(2L), Some(9L), None, Some(2L), Some(8L),
      Some(7L), Some(3L)).toDF("fk")
    val audit = graft.operators.Relational
      .fkAudit("edge", facts, "fk", dim, "pk", bcast = true)
      .collect().head
    assert(audit.getLong(2) == got.size.toLong,
      s"stream orphan count ${got.size} != batch audit ${audit.getLong(2)}")
    assert(audit.getLong(3) == 1L, "null-FK census lost the null row")
  }

  test("streaming surprisal gate folds to the batch kernel across a micro-batch boundary, OOV capped") {
    import spark.implicits._
    // stored index from a standing corpus: x=5, y=2, z=1 → N=8,
    // len(bin(8))=4; OOV cap = 4
    val corpus = Seq((100L, "x x x x", "c"), (101L, "x y", "c"), (102L, "y z", "c"))
      .toDF("doc_id", "text", "source")
    val uni = graft.operators.TextOps.unigramIndex(corpus).localCheckpoint()
    val tot = uni.agg(sum(col("n_t")).as("n_corpus")).localCheckpoint()
    val in = MemoryStream[DocRow]
    val q = StreamOps.surprisalGate(
        in.toDF().withColumn("source", lit("live")), uni, tot)
      .writeStream.outputMode("append").format("memory").queryName("surpgate")
      .start()
    in.addData(DocRow(1, "x y"))        // s = 1 + 2 → ppm 1_500_000
    q.processAllAvailable()
    in.addData(DocRow(2, "q q z x"))    // OOV q ×2: 4+4+3+1 → ppm 3_000_000
    q.processAllAvailable()
    q.stop()
    val folded = spark.table("surpgate")
      .groupBy(col("doc_id"))
      .agg(expr("CAST(sum(CAST(s_bits AS DECIMAL(38,0))) * 1000000 div count(1) AS BIGINT)")
        .as("doc_ppm"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == Set((1L, 1500000L), (2L, 3000000L)),
      s"stream surprisal fold diverged: $folded")
    // ≡ the batch kernel on the same frames
    val batchDocs = Seq((1L, "x y", "live"), (2L, "q q z x", "live"))
      .toDF("doc_id", "text", "source")
    val batch = graft.operators.TextOps
      .surprisalFold(graft.operators.TextOps.scoredTokens(batchDocs, uni, tot))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch == Set(("live", 15L, 1L, 2L), ("live", 30L, 1L, 4L)),
      s"batch kernel histogram unexpected: $batch")
  }

  test("streaming winnow gate equals the uncapped batch winnow pairs across a micro-batch boundary") {
    // the streaming cell of the winnow lens (batch q103 / incremental
    // q236): fingerprint-bucketed arrival gate, exact full-set shared
    // count. Batch twin is the UNCAPPED winnowPairs form — the df cap is
    // a retroactive corpus-index statistic (see StreamWinnowGate doc).
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val docs = graft.Tables(s2, sf0001).documents
      .select(col("doc_id"), col("text"))
      .collect().map(r => DocRow(r.getLong(0), r.getString(1)))
    val in = MemoryStream[DocRow](newProductEncoder[DocRow], s2.sqlContext)
    val q = StreamWinnowGate.pairs(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("winnowgate")
      .start()
    in.addData(docs.take(docs.length / 2).toSeq: _*)
    q.processAllAvailable()
    in.addData(docs.drop(docs.length / 2).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s2.table("winnowgate").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.Dedup.winnowPairs(
        graft.Tables(spark, sf0001).documents, 3, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"winnow gate diverged: " +
      s"only-stream=${(streamed -- batch).take(3)}, only-batch=${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty, "fixture has no winnow pairs; gate unexercised")
  }

  // -------------------------------------------------------------------
  // Restart recovery (round-15 verdict #4): the reference runs every
  // service under `restart: always` (docker-compose.yaml:102) — state
  // must survive PROCESS DEATH, not just micro-batch boundaries, and
  // until round 16 only StreamNearDedup proved it (the TTL harness
  // above). Harness, generalized from that test: feed half the stream
  // as one Trigger.Once run over a file source, let the query
  // TERMINATE, then open a brand-new query from the same RocksDB
  // checkpoint and feed the rest — the end gauge must equal the batch
  // twin, which it only can if the first lifetime's state was
  // recovered, not recomputed.

  test("StreamFunnel survives a stop/reopen from checkpoint: end stages equal batch q105") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val root = java.nio.file.Files.createTempDirectory("funnelrestart")
    val (inDir, ckpt, outDir) = (s"$root/in", s"$root/ckpt", s"$root/out")
    // micros as longs through the landing files: a JSON timestamp
    // round-trip is format-dependent, the integer is exact
    val evs = graft.Tables(s2, sf0001).events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .orderBy(col("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def runLifetime(chunk: Seq[(Long, String, Long)]): Unit = {
      chunk.toDF("user_id", "event_type", "us").write.mode("append").json(inDir)
      val src = s2.readStream.schema("user_id LONG, event_type STRING, us LONG")
        .json(inDir)
        .select(col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"))
      val q = StreamFunnel.transitions(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .format("parquet").option("path", outDir)
        .start()
      assert(q.awaitTermination(180000), "funnel lifetime did not finish")
    }
    runLifetime(evs.take(evs.length / 2).toSeq) // first process lifetime
    runLifetime(evs.drop(evs.length / 2).toSeq) // reopened from checkpoint
    val rank = Map("signup" -> 1, "view" -> 2, "purchase" -> 3)
    val streamed = s2.read.schema("userId LONG, stage STRING, us LONG")
      .parquet(outDir).collect()
      .map(r => (r.getLong(0), rank(r.getString(1))))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val batch = graft.operators.WindowOps.q105.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), rank(r.getString(1)))).toMap
    assert(streamed == batch, s"restart funnel divergence: " +
      s"only-stream=${(streamed.toSet -- batch.toSet).take(5)}, " +
      s"only-batch=${(batch.toSet -- streamed.toSet).take(5)}")
  }

  test("StreamKs survives a stop/reopen from checkpoint: final cells equal the batch count frame") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val root = java.nio.file.Files.createTempDirectory("ksrestart")
    val (inDir, ckpt, outDir) = (s"$root/in", s"$root/ckpt", s"$root/out")
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    def runLifetime(chunk: Seq[(String, Double)]): Unit = {
      chunk.toDF("event_type", "value").write.mode("append").json(inDir)
      val src = s2.readStream.schema("event_type STRING, value DOUBLE").json(inDir)
      val q = StreamKs.gauge(StreamKs.cells(src))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .format("parquet").option("path", outDir)
        .start()
      assert(q.awaitTermination(180000), "ks lifetime did not finish")
    }
    runLifetime(evs.take(evs.length / 2).toSeq) // first process lifetime
    runLifetime(evs.drop(evs.length / 2).toSeq) // reopened from checkpoint
    // per-cell counts are monotone, so the final gauge per cell is the
    // max emitted n — equal to the batch count ONLY if lifetime 1's
    // state was recovered (a reset store would recount from zero)
    val finals = s2.read.schema("eventType STRING, cents LONG, n LONG")
      .parquet(outDir).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    def cents(v: Double): Long =
      BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val batch = evs.map { case (t, v) => (t, cents(v)) }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(finals == batch, "restart KS cell divergence")
  }

  test("StreamQuantileSketch survives a stop/reopen from checkpoint (MapState recovery)") {
    // same harness as the StreamFunnel/StreamKs restart specs, but the
    // recovered state is a MapState (bin → count) rather than a
    // ValueState — the other state-store code path a pod restart hits
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val root = java.nio.file.Files.createTempDirectory("quantrestart")
    val (inDir, ckpt, outDir) = (s"$root/in", s"$root/ckpt", s"$root/out")
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    def runLifetime(chunk: Seq[(String, Double)]): Unit = {
      chunk.toDF("event_type", "value").write.mode("append").json(inDir)
      val src = s2.readStream.schema("event_type STRING, value DOUBLE").json(inDir)
      val q = StreamQuantileSketch.gauge(StreamQuantileSketch.keyed(src))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .format("parquet").option("path", outDir)
        .start()
      assert(q.awaitTermination(180000), "quantile lifetime did not finish")
    }
    runLifetime(evs.take(evs.length / 2).toSeq) // first process lifetime
    runLifetime(evs.drop(evs.length / 2).toSeq) // reopened from checkpoint
    // n is monotone per type, so the final gauge per type is its max-n
    // emission; it can only equal the full-feed count + bin bounds if
    // lifetime 1's MapState was recovered
    val finalRows = s2.read.schema(
        "eventType STRING, n LONG, p50Lo LONG, p50Hi LONG, p90Lo LONG, p90Hi LONG, p99Lo LONG, p99Hi LONG")
      .parquet(outDir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .groupBy(_._1).view.mapValues(_.map(_._2).maxBy(_._1)).toMap
    def micro(v: Double): Long =
      math.max(0L, math.round(v * 1000000))
    val expect = evs.groupBy(_._1).map { case (t, xs) =>
      val bins = xs.map(x => QuantProcessor.binId(micro(x._2)))
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val n = bins.map(_._2).sum
      def pick(p: Int): Long = {
        val pos = (n * p + 99) / 100
        var cum = 0L
        bins.find { case (_, c) => cum += c; cum >= pos }.map(_._1).getOrElse(0L)
      }
      val (i50, i90, i99) = (pick(50), pick(90), pick(99))
      t -> ((n, QuantProcessor.lo(i50), QuantProcessor.hi(i50),
        QuantProcessor.lo(i90), QuantProcessor.hi(i90),
        QuantProcessor.lo(i99), QuantProcessor.hi(i99)))
    }
    assert(finalRows == expect, "restart quantile gauge divergence")
  }

  test("StreamWinnowGate survives a stop/reopen from checkpoint: pairs equal the uncapped batch winnow set") {
    // the round-16 restart standard applied to the round-17 gate: the
    // fingerprint-bucket stores (ListState keyed per fp) must survive
    // process death — a reset store would miss every pair whose earlier
    // member arrived in lifetime 1
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val root = java.nio.file.Files.createTempDirectory("winnowrestart")
    val (inDir, ckpt, outDir) = (s"$root/in", s"$root/ckpt", s"$root/out")
    val docs = graft.Tables(s2, sf0001).documents
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def runLifetime(chunk: Seq[(Long, String)]): Unit = {
      chunk.toDF("doc_id", "text").write.mode("append").json(inDir)
      val src = s2.readStream.schema("doc_id LONG, text STRING").json(inDir)
      val q = StreamWinnowGate.pairs(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .format("parquet").option("path", outDir)
        .start()
      assert(q.awaitTermination(180000), "winnow gate lifetime did not finish")
    }
    runLifetime(docs.take(docs.length / 2).toSeq) // first process lifetime
    runLifetime(docs.drop(docs.length / 2).toSeq) // reopened from checkpoint
    val streamed = s2.read.schema("docA LONG, docB LONG, nShared LONG")
      .parquet(outDir).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.operators.Dedup.winnowPairs(
        graft.Tables(spark, sf0001).documents, 3, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"restart winnow-gate divergence: " +
      s"only-stream=${(streamed -- batch).take(3)}, only-batch=${(batch -- streamed).take(3)}")
    assert(streamed.nonEmpty)
  }

  test("buffered funnel survives restart with PENDING EVENT-TIME TIMERS: recovered timers drain to batch q105") {
    // round-16 verdict residue: the three restart specs above prove
    // ValueState/MapState/ListState recovery, but none stops a processor
    // with REGISTERED EVENT-TIME TIMERS outstanding — the
    // UserEventMachine's buffered driver registers watermark+1 timers to
    // drain buffered prefixes, and a pod dying between registration and
    // firing is exactly the reference's `restart: always` case
    // (docker-compose.yaml:102) on the fourth state surface. Harness:
    // four process lifetimes over ONE RocksDB checkpoint. Lifetime 1
    // feeds a shuffled first half as a single Trigger.Once batch whose
    // watermark is 0 — NOTHING drains, so the process dies holding a
    // full ListState buffer plus an armed timer (asserted: zero output
    // rows). Lifetime 2 reopens with the second half: the recovered
    // timer fires against the recovered watermark over the recovered
    // buffer. Lifetimes 3–4 feed only a far-future sentinel, so every
    // real user's remaining drain happens EXCLUSIVELY through recovered
    // timers over recovered state (no input rows for those keys). End
    // stages must equal batch q105.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val root = java.nio.file.Files.createTempDirectory("buftimerrestart")
    val (inDir, ckpt, outDir) = (s"$root/in", s"$root/ckpt", s"$root/out")
    val evs = graft.Tables(s2, sf0001).events
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .orderBy(col("us"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // arrival shuffled within each lifetime — the buffered gate must not
    // care (the plain gate's in-order contract is violated throughout)
    def shuffled(xs: Array[(Long, String, Long, Long)]) =
      xs.sortBy(t => (t._4 % 13, t._4))
    def runLifetime(chunk: Seq[(Long, String, Long, Long)]): Unit = {
      chunk.toDF("user_id", "event_type", "us", "event_id")
        .write.mode("append").json(inDir)
      val src = s2.readStream
        .schema("user_id LONG, event_type STRING, us LONG, event_id LONG")
        .json(inDir)
        .select(col("user_id"), col("event_type"),
          timestamp_micros(col("us")).as("ts"), col("event_id"))
      val q = StreamFunnelBuffered.transitions(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .format("parquet").option("path", outDir)
        .start()
      assert(q.awaitTermination(180000), "buffered funnel lifetime did not finish")
    }
    def emitted(): Array[(Long, String)] =
      scala.util.Try(
        s2.read.schema("userId LONG, stage STRING, us LONG").parquet(outDir)
          .collect().map(r => (r.getLong(0), r.getString(1))))
        .getOrElse(Array.empty)
    val half = evs.length / 2
    runLifetime(shuffled(evs.take(half)).toSeq)
    // the stop state this spec exists for: buffer full, timer armed,
    // zero transitions emitted (batch 0 ran with watermark 0)
    assert(emitted().isEmpty,
      "lifetime 1 drained output — the stop did not leave a pending timer")
    runLifetime(shuffled(evs.drop(half)).toSeq)
    val maxUs = evs.map(_._3).max
    runLifetime(Seq((999999L, "noop", maxUs + 86400000000L, 10000000L)))
    runLifetime(Seq((999999L, "noop", maxUs + 2 * 86400000000L, 10000001L)))
    val rank = Map("signup" -> 1, "view" -> 2, "purchase" -> 3)
    val streamed = emitted().filter(_._1 != 999999L)
      .groupBy(_._1).view.mapValues(_.map(t => rank(t._2)).max).toMap
    val batch = graft.operators.WindowOps.q105.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), rank(r.getString(1)))).toMap
    assert(streamed == batch, s"timer-pending restart divergence: " +
      s"only-stream=${(streamed.toSet -- batch.toSet).take(5)}, " +
      s"only-batch=${(batch.toSet -- streamed.toSet).take(5)}")
  }

  test("in-order and buffered drivers agree: funnel, transitions, retention (Asia/Seoul session)") {
    // one machine, two drivers: fed the same in-order fixture events
    // across a micro-batch boundary, the in-order entry point and its
    // *Buffered twin (flushed by a far-future watermark event) must emit
    // the same rows. The session runs in the reference DAG's zone
    // (update_tr_from_ex_dag.py:83), so retention's calendar day must be
    // q106's to_date(ts) in BOTH drivers, not a UTC epoch-day.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s2.conf.set("spark.sql.session.timeZone", "Asia/Seoul")
    import s2.implicits._
    val evs = graft.Tables(s2, sf0001).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))
    val flushUser = 999999L
    val flush = Ev(10000000L, new java.sql.Timestamp(evs.map(_.ts.getTime).max + 86400000L),
      flushUser, "noop", 0.0)
    def rows(name: String, form: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Seq[String] = {
      val in = MemoryStream[Ev](newProductEncoder[Ev], s2.sqlContext)
      val q = form(in.toDF())
        .writeStream.outputMode("append").format("memory").queryName(name)
        .start()
      Seq(evs.take(evs.length / 2).toSeq, evs.drop(evs.length / 2).toSeq, Seq(flush))
        .foreach { chunk => in.addData(chunk: _*); q.processAllAvailable() }
      q.stop()
      s2.table(name).filter(col("userId") =!= flushUser)
        .collect().map(_.toString).toSeq.sorted
    }
    val cases = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("funnel", StreamFunnel.transitions(_).toDF(), StreamFunnelBuffered.transitions(_).toDF()),
      ("trans", StreamTransitions.transitions(_).toDF(),
        StreamTransitionsBuffered.transitions(_).toDF()),
      ("ret", StreamRetention.hits(_).toDF(), StreamRetentionBuffered.hits(_).toDF()))
    cases.foreach { case (name, inOrder, buffered) =>
      val a = rows(s"agree_${name}_inorder", inOrder)
      val b = rows(s"agree_${name}_buffered", buffered)
      val (onlyInOrder, onlyBuffered) = (a.diff(b), b.diff(a))
      val agree = a.nonEmpty && onlyInOrder.isEmpty && onlyBuffered.isEmpty
      assert(agree, s"$name: ${a.size} in-order vs ${b.size} buffered rows, " +
        s"only-in-order=${onlyInOrder.take(5)}, only-buffered=${onlyBuffered.take(5)}")
    }
  }
}
