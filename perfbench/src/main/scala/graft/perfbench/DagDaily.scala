package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{LocalDate, ZoneId}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Curation, Partitioned}
import graft.perfbench.Harness.{Ctx, describe}
import graft.pipeline.{Connection, Connections, CurationPipeline, DailyPipeline, Pipeline, Schedule}
import graft.streaming.{DeferredSensor, StreamDrift, StreamFunnel, StreamOps}

/** `dag_daily`: the reference DAG end to end, one DAG run per pass.
  *
  * `Schedule("0 0 * * *", "Asia/Seoul")` lists the plan's missed days and
  * `Pipeline.catchup` replays each one: the day's events and documents
  * land (an atomic rename of files `run.py` staged, after a seeded delay)
  * under two `Connections` names; `pollUntil` and a `DeferredSensor` wait
  * for them; four `Trigger.AvailableNow` stream steps drain what landed
  * (their checkpoints carry state across days); `CurationPipeline` writes
  * the curated shards under `retryWithBackoff` with seeded transient
  * failures on first attempts; `Partitioned.replayDay` replays the day;
  * the outcome is routed to notify. Every pass gets fresh directories.
  * The unmeasured warm pass replays the first day only: its work is the
  * first contact with each step's code. */
final class DagDaily(ctx: Ctx) extends Workload {
  import ctx._

  private val days = plan.raw("days").map(LocalDate.parse)
  private val landEventsMs = plan.raw("land_events_ms").map(_.toLong)
  private val landDocsMs = plan.raw("land_docs_ms").map(_.toLong)
  private val failFirst = plan.raw("fail_first").map(_ == "1")
  private val nShards = plan.int("shards")
  private val stage = Paths.get(plan.work, "stage")
  private val zone = ZoneId.of("Asia/Seoul")
  private val poke = 50.millis
  private val sensorTimeout = 60.seconds
  private val EventSchema = "event_id LONG, us LONG, user_id LONG, event_type STRING, value DOUBLE"

  private final class Dirs(root: Path) {
    val staged: Path = root.resolve("staged")
    val landing: Path = root.resolve("landing")
    def out(step: String): String = root.resolve("out").resolve(step).toString
    def ckpt(step: String): String = root.resolve("ckpt").resolve(step).toString
    def shards(day: LocalDate): Path = root.resolve("shards").resolve(s"d$day")
    val state: String = root.resolve("state").toString
  }
  private val runs = ArrayBuffer.empty[(Int, Dirs, Seq[LocalDate], Seq[String])]

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  def pass(p: Int, traced: Boolean): Unit = {
    val d = new Dirs(Paths.get(plan.work, "dag", s"p$p"))
    copyTree(stage, d.staged)
    Files.createDirectories(d.landing.resolve("events"))
    Files.createDirectories(d.landing.resolve("docs"))
    val missed = if (p == 0) days.take(1) else days
    val t0 = rec.nowUs
    val scheduled = rec.span("pipeline.schedule") {
      val start = missed.head.atStartOfDay(zone).toInstant
      val until = missed.last.plusDays(1).atStartOfDay(zone).toInstant
      Schedule("0 0 * * *", zone).firesBetween(start, until)
        .map(_.atZone(zone).toLocalDate.minusDays(1))
    }
    val routes = ArrayBuffer.empty[String]
    val landed = rec.span("pipeline.schedule") {
      Partitioned.landedDays(spark, d.state).map(_.toLocalDate)
    }
    Pipeline.catchup(scheduled, landed) { day =>
      routes += interval(p, d, days.indexOf(day), day)
    }(Ordering.by(_.toEpochDay))
    rec.emit("dagrun", "pass" -> p, "start_us" -> t0, "end_us" -> rec.nowUs,
      "scheduled" -> scheduled.map(_.toString))
    runs += ((p, d, missed, routes.toSeq))
  }

  /** One scheduled interval; returns the route taken. */
  private def interval(p: Int, d: Dirs, i: Int, day: LocalDate): String = {
    val op = s"p$p.$i.$day"
    TaskListener.label(sc, op) {
      val t0 = rec.nowUs
      var route = "failure"
      var err = ""
      var attempts = 0
      val pokes = Map("events" -> ArrayBuffer.empty[Long], "docs" -> ArrayBuffer.empty[Long])
      val landedAt = Map("events" -> new AtomicLong(0), "docs" -> new AtomicLong(0))
      rec.span("pipeline.interval", op) {
        val landers = Seq("events" -> landEventsMs(i), "docs" -> landDocsMs(i)).map { case (feed, delay) =>
          Connections.register(s"perfbench_$feed",
            Connection(d.landing.resolve(feed).resolve(s"d$day").toString))
          val t = new Thread(() => {
            Thread.sleep(delay)
            Files.move(d.staged.resolve(feed).resolve(s"d$day"),
              d.landing.resolve(feed).resolve(s"d$day"), StandardCopyOption.ATOMIC_MOVE)
            landedAt(feed).set(rec.nowUs)
          }, s"perfbench-land-$feed")
          t.start()
          t
        }
        def sensed(feed: String): () => Pipeline.PollStatus = {
          val check = DailyPipeline.landedFeedReadiness(s"perfbench_$feed")
          () => { pokes(feed).synchronized(pokes(feed) += rec.nowUs); check() }
        }
        val outcome: Try[Any] = for {
          deferred <- Try(rec.span("pipeline.deferred", op)(
            DeferredSensor.start(spark, poke, sensorTimeout)(sensed("docs"))))
          _ <- rec.span("pipeline.poll", op)(Pipeline.pollUntil(poke, sensorTimeout)(sensed("events")))
          _ <- rec.span("pipeline.deferred", op)(deferred.await(sensorTimeout + 10.seconds))
          _ = landers.foreach(_.join())
          _ <- streamSteps(d, op)
          kept <- rec.span("pipeline.retry", op)(Pipeline.retryWithBackoff(3, 20.millis, 160.millis) { () =>
            attempts += 1
            if (failFirst(i) && attempts == 1)
              throw new IllegalStateException("injected transient failure")
            // CurationPipeline's one Spark action is ShardWriter.writeShards
            val kept = rec.span("shardwriter.curated_write", op)(CurationPipeline.run(spark,
              d.landing.resolve("docs").resolve(s"d$day").toString, d.shards(day).toString,
              DailyPipeline.landedFeedReadiness("perfbench_docs"), _ => (), nShards = nShards).get)
            rec.span("shardwriter.replay", op)(
              Partitioned.replayDay(spark, dir, d.state, java.sql.Date.valueOf(day)))
            kept
          })
        } yield kept
        Pipeline.route(outcome)(_ => route = "success", e => err = describe(e))
      }
      rec.emit("interval", "pass" -> p, "op" -> op, "day" -> day.toString,
        "start_us" -> t0, "land_us" -> landedAt.values.map(_.get).max, "notify_us" -> rec.nowUs,
        "route" -> route, "err" -> err, "attempts" -> attempts,
        "pokes_events" -> pokes("events").toSeq, "pokes_docs" -> pokes("docs").toSeq,
        "landed_events_us" -> landedAt("events").get, "landed_docs_us" -> landedAt("docs").get)
      route
    }
  }

  private def events(d: Dirs, streaming: Boolean): DataFrame = {
    val path = d.landing.resolve("events").toString + "/*"
    val raw = if (streaming) spark.readStream.schema(EventSchema).parquet(path)
      else spark.read.schema(EventSchema).parquet(path)
    raw.withColumn("ts", timestamp_micros(col("us")))
  }

  private def docs(d: Dirs, streaming: Boolean): DataFrame = {
    val path = d.landing.resolve("docs").toString + "/*/documents.parquet"
    (if (streaming) spark.readStream.schema("doc_id LONG, text STRING").parquet(path)
      else spark.read.schema("doc_id LONG, text STRING").parquet(path))
  }

  /** The four stream steps, one after another, each drained to completion. */
  private def streamSteps(d: Dirs, op: String): Try[Unit] = {
    val steps: Seq[(String, Boolean, () => DataFrame)] = Seq(
      ("curation_gate", false, () => StreamOps.curationGate(docs(d, streaming = true))),
      ("tumbling_counts", true, () => StreamOps.tumblingCounts(events(d, streaming = true), "1 hour", "10 minutes")),
      ("drift_gauge", false, () => StreamDrift.gauge(StreamDrift.binned(events(d, streaming = true), 8)).toDF()),
      ("funnel", false, () => StreamFunnel.transitions(events(d, streaming = true)).toDF()))
    steps.foldLeft(Try(())) { case (done, (name, complete, build)) =>
      done.flatMap(_ => Try(rec.span(s"streaming.$name", op) {
        val q = build().writeStream
          .outputMode(if (complete) "complete" else "append")
          .option("checkpointLocation", d.ckpt(name))
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode(if (complete) "overwrite" else "append").parquet(d.out(name))
          }
          .start()
        try q.awaitTermination() finally recordProgress(q, name, op)
      }))
    }
  }

  private def recordProgress(q: StreamingQuery, step: String, op: String): Unit =
    q.recentProgress.foreach { pr =>
      val dur = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      rec.emit("stream", "step" -> step, "op" -> op, "batch" -> pr.batchId,
        "rows" -> pr.numInputRows, "trigger_ms" -> dur.getOrElse("triggerExecution", 0L),
        "planning_ms" -> dur.getOrElse("queryPlanning", 0L),
        "commit_ms" -> (dur.getOrElse("walCommit", 0L) + dur.getOrElse("commitOffsets", 0L)),
        "state_rows" -> pr.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> pr.stateOperators.map(_.memoryUsedBytes).sum)
    }

  override def probes(): Unit = FunctionProbe.run(ctx)

  /** Landed days equal scheduled days, every day has exactly `nShards`
    * shard directories, every interval routed to success, and each stream
    * step's final state equals its batch twin; for every pass. */
  def check(): Unit = {
    val twins = runs.toSeq.flatMap { case (p, d, missed, routes) =>
      verdict(p, "routes_success")(routes.size == missed.size && routes.forall(_ == "success"))
      verdict(p, "landed_days")(Partitioned.landedDays(spark, d.state).map(_.toLocalDate) == missed.toSet)
      verdict(p, "shard_dirs")(missed.forall { day =>
        val dirs = Files.list(d.shards(day))
        try dirs.iterator().asScala.count(_.getFileName.toString.startsWith("shard=")) == nShards
        finally dirs.close()
      })
      val files = Files.walk(d.shards(missed.head).getParent)
      try {
        val parquet = files.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        rec.emit("shards", "pass" -> p, "files" -> parquet.size, "bytes" -> parquet.map(Files.size).sum)
      } finally files.close()
      val ev = events(d, streaming = false)
      val read = (step: String) => spark.read.parquet(d.out(step))
      val roundSum = (df: DataFrame) => df.withColumn("sum_value", round(col("sum_value"), 6))
      Seq[(Int, String, () => Boolean)](
        (p, "curation_gate_twin", () => sameRows(read("curation_gate"),
          Curation.gateVerdicts(docs(d, streaming = false)))),
        (p, "tumbling_counts_twin", () => sameRows(roundSum(read("tumbling_counts")),
          roundSum(StreamOps.tumblingCounts(ev, "1 hour", "10 minutes")))),
        (p, "drift_gauge_twin", () => sameRows(
          read("drift_gauge").groupBy(col("cell"), col("bin")).agg(max(col("n")).as("n")),
          StreamDrift.binned(ev, 8).groupBy(col("cell"), col("bin")).agg(count(lit(1)).as("n")))),
        (p, "funnel_twin", () => sameRows(read("funnel"), StreamFunnel.transitions(ev).toDF())))
    }
    // the twins are small independent jobs: check them side by side
    val threads = twins.map { case (p, name, ok) => new Thread(() => verdict(p, name)(ok())) }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  private def verdict(p: Int, name: String)(ok: => Boolean): Unit = {
    val r = Try(ok)
    rec.emit("check", "pass" -> p, "name" -> name, "ok" -> r.getOrElse(false),
      "err" -> (r match { case Failure(e) => describe(e); case _ => "" }))
  }

  /** Equal as multisets of rows; both sides are small. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def counts(df: DataFrame) = df.collect().groupBy(_.toSeq).view.mapValues(_.length).toMap
    counts(a) == counts(b.select(a.columns.map(col).toSeq: _*))
  }
}
