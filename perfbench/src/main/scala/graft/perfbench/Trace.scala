package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Everything the harness records, kept in memory and written out as JSON
  * lines when the run ends. Times are epoch microseconds on one clock
  * (wall-clock origin plus `nanoTime` offsets), so harness spans line up
  * with the millisecond task and job times Spark's listener reports. */
final class Recorder {
  private val originUs = System.currentTimeMillis() * 1000L
  private val originNs = System.nanoTime()
  def nowUs: Long = originUs + (System.nanoTime() - originNs) / 1000L

  private val lines = new ConcurrentLinkedQueue[String]()
  def emit(kind: String, fields: (String, Any)*): Unit =
    lines.add(Json.obj(("kind" -> kind) +: fields))

  /** Spans: name, start, end, parent span id, op id. The parent is the
    * innermost open span on the calling thread. */
  @volatile var spansOn = true
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String, op: String = "")(body: => T): T =
    if (!spansOn) body
    else {
      val id = ids.incrementAndGet()
      val up = open.get().headOption.getOrElse(0L)
      open.set(id :: open.get())
      val t0 = nowUs
      try body
      finally {
        open.set(open.get().tail)
        emit("span", "id" -> id, "parent" -> up, "name" -> name, "op" -> op,
          "start_us" -> t0, "end_us" -> nowUs)
      }
    }

  def writeTo(path: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asScala.asJava)
}

/** Sums nothing itself: forwards every finished task, stage and job to the
  * recorder, tagged with the op label the harness sets as the local
  * property [[TaskListener.OpKey]]. The Python side aggregates. */
final class TaskListener(rec: Recorder) extends SparkListener {
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(TaskListener.OpKey))).getOrElse("")
    e.stageInfos.foreach(s => stageOp.put(s.stageId, op))
    rec.emit("job", "job" -> e.jobId, "op" -> op, "start_ms" -> e.time,
      "cut" -> e.stageInfos.exists(_.name.contains("Materialize.scala")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    rec.emit("job_end", "job" -> e.jobId, "end_ms" -> e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    rec.emit("stage", "stage" -> s.stageId, "op" -> stageOp.getOrDefault(s.stageId, ""),
      "tasks" -> s.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) rec.emit("task",
      "stage" -> e.stageId, "op" -> stageOp.getOrDefault(e.stageId, ""),
      "launch_ms" -> e.taskInfo.launchTime, "finish_ms" -> e.taskInfo.finishTime,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
      "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
      "sw_records" -> m.shuffleWriteMetrics.recordsWritten,
      "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
      "sr_records" -> m.shuffleReadMetrics.recordsRead,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "in_bytes" -> m.inputMetrics.bytesRead, "in_records" -> m.inputMetrics.recordsRead)
  }
}

object TaskListener {
  /** Local property carrying the benchmark's op label onto every job. */
  val OpKey = "perfbench.op"

  def label[T](sc: SparkContext, op: String)(body: => T): T = {
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, prev)
  }
}

/** Minimal JSON writer for the harness output (numbers, booleans,
  * strings, sequences of those). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
