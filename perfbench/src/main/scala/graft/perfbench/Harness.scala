package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{LocalSession, SparkEntry}
import graft.functions.GraftFunctions

/** The benchmark harness. `run.py` builds it, writes a plan (a Java
  * properties file made from the workload and seed) and starts it:
  *
  * {{{
  * java -cp <classpath> graft.perfbench.Harness catalog <out.jsonl>
  * java -cp <classpath> graft.perfbench.Harness run <plan.properties>
  * }}}
  *
  * `run` starts the session, runs one unmeasured warm pass (the end of
  * the set-up) and then `passes` measured passes over
  * the plan's ops, dumps the outputs `run.py` checks, and writes every
  * op, span and Spark task it saw as JSON lines to the plan's `out`. It
  * computes no metric itself. */
object Harness {
  def main(args: Array[String]): Unit = {
    args.toSeq match {
      case Seq("catalog", out) => writeCatalog(out)
      case Seq("run", planFile) => run(Plan.load(planFile))
      case _ =>
        System.err.println("usage: Harness catalog <out> | Harness run <plan.properties>")
        sys.exit(2)
    }
    // stray non-daemon threads (stream watchers) must not keep the JVM up
    sys.exit(0)
  }

  /** Query name, pack, oracle SQL and twins of every registered query,
    * plus the view and expression names the traced run reports. */
  def writeCatalog(out: String): Unit = {
    val lines = SparkEntry.packs.flatMap { pack =>
      val packName = pack.getClass.getSimpleName.stripSuffix("$")
      pack.queries.map(q => Json.obj(Seq("kind" -> "query", "name" -> q.name,
        "pack" -> packName, "oracle" -> q.oracle.orNull, "twins" -> q.twins)))
    }
    Files.write(Paths.get(out), lines.asJava)
  }

  final case class Ctx(plan: Plan, rec: Recorder, spark: SparkSession) {
    def sc = spark.sparkContext
    def dir: String = plan.data
  }

  def run(plan: Plan): Unit = {
    val rec = new Recorder
    rec.spansOn = plan.trace
    val spark = setUp(plan, rec)
    val ctx = Ctx(plan, rec, spark)
    val listener = new TaskListener(rec)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    val workload: Workload = plan.workload match {
      case "dag_daily" => new DagDaily(ctx)
      case _ => new QueryWorkload(ctx)
    }
    try {
      (0 to plan.passes).foreach { p =>
        // traced runs alternate traced and untraced measured passes, so
        // the run itself measures what tracing costs
        val traced = plan.trace && p % 2 == 1
        rec.spansOn = traced
        if (traced) {
          spark.sparkContext.addSparkListener(listener)
          threads.setThreadContentionMonitoringEnabled(true)
        }
        val t0 = rec.nowUs
        workload.pass(p, traced)
        val t1 = rec.nowUs
        if (traced) {
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          threads.setThreadContentionMonitoringEnabled(false)
        }
        rec.emit("pass", "pass" -> p, "warm" -> (p == 0), "traced" -> traced,
          "start_us" -> t0, "end_us" -> t1)
      }
      // the peak RSS of the workload itself, before the probes and checks
      rec.emit("rss", "vmhwm_kb" -> vmHwmKb)
      if (plan.trace) {
        rec.spansOn = true
        spark.sparkContext.addSparkListener(listener)
        workload.probes()
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      rec.spansOn = false
      workload.check()
    } catch {
      case NonFatal(e) => rec.emit("fatal", "err" -> describe(e))
    }
    rec.writeTo(plan.out)
    try spark.stop() catch { case NonFatal(_) => () }
  }

  /** Starts the session and registers the native functions. */
  private def setUp(plan: Plan, rec: Recorder): SparkSession = {
    val t0 = rec.nowUs
    val spark = rec.span("session.start")(LocalSession(
      defaultCpus = plan.cpus.toString,
      extraConf = Map(
        "spark.local.dir" -> s"${plan.work}/spark-local",
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")))
    val t1 = rec.nowUs
    rec.span("session.register")(GraftFunctions.register(spark))
    rec.emit("setup", "start_us" -> t0, "session_us" -> t1, "end_us" -> rec.nowUs)
    spark
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private def vmHwmKb: Long = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally status.close()
  }
}

/** One workload: `pass` runs (and, when traced, instruments) one pass of
  * identical work; `probes` runs the traced-only per-module phases;
  * `check` dumps or verifies outputs after timing. */
trait Workload {
  def pass(p: Int, traced: Boolean): Unit
  def probes(): Unit = ()
  def check(): Unit
}

/** The plan `run.py` writes. */
final case class Plan(props: java.util.Properties) {
  private def get(k: String): String =
    Option(props.getProperty(k)).getOrElse(throw new IllegalArgumentException(s"plan lacks '$k'"))
  private def list(k: String): Seq[String] =
    Option(props.getProperty(k)).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)

  val workload: String = get("workload")
  val data: String = get("data")
  val work: String = get("work")
  val out: String = get("out")
  val trace: Boolean = get("trace") == "1"
  val cpus: Int = get("cpus").toInt
  val passes: Int = get("passes").toInt
  val clients: Int = Option(props.getProperty("clients")).map(_.toInt).getOrElse(1)
  val ops: Seq[String] = list("ops")
  val checks: Seq[String] = list("checks")
  def raw(k: String): Seq[String] = list(k)
  def int(k: String): Int = get(k).toInt
}

object Plan {
  def load(path: String): Plan = {
    val p = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(path))
    try p.load(in) finally in.close()
    Plan(p)
  }
}
