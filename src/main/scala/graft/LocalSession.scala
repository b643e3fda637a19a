package graft

import graft.functions.{GraftExtensions, GraftFunctions}
import org.apache.spark.sql.SparkSession

/** One shared local-session builder for the driver mains (Verify, Bench,
  * Explain) and dev tools (TimeQuery, ScaleProbe): `SPARK_GRAFT_CPUS`-sized
  * local master with matching shuffle partitions, UTC session timezone,
  * AQE on, UI off, WARN logs, the fork-free local file system, one
  * codegen cache shared by every session and stream query — so every
  * entry point measures and verifies under identical engine settings. The
  * native functions are installed here, once: by the extension for this
  * session and every `newSession()` of it, and by
  * [[GraftFunctions.register]] when `getOrCreate` returns a session that
  * was already running (it ignores extensions then).
  * `nanosAsLong` lets [[Tables.events]] read a TIMESTAMP(NANOS) `ts`. */
object LocalSession {
  /** Binds `file:` to the fork-free local file system of `LocalFs.scala`
    * for both Hadoop APIs: `FileSystem` (parquet and shard writes, the
    * commit protocol, RocksDB state uploads) and `FileContext` (streaming
    * checkpoints). Stock Hadoop without its native library starts a
    * `chmod` or `readlink` process for each file a stream step or a write
    * creates or renames. The test session applies the same map. */
  val localFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Lets each generated class compile once per JVM. Spark keys its
    * codegen cache by (context class loader, source). With artifact
    * isolation on (the default), every `SparkSession`, including the
    * clone each `StreamingQuery` start makes, gets its own artifact
    * state, and its executor tasks run under a new `ExecutorClassLoader`:
    * every stream step of every `dag_daily` interval recompiled all the
    * classes its tasks use. The program adds no session artifacts (no
    * `addArtifact`, `addJar` or `addFile`), so isolation buys it nothing.
    * The cache's default 100 entries are fewer than `dag_daily`'s working
    * set of 106 (23 driver, 83 executor side) and close to
    * `llm_shared_views`' 82, so the LRU cycled even with isolation off;
    * 1000 leaves room for a larger query mix or another fixture schema,
    * and an entry is one compiled class, not data. The test session
    * applies the same map. */
  val codegenConf: Map[String, String] = Map(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  def apply(defaultCpus: String = "32",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing floors partitions at 1 MB of shuffle BYTES, which
      // starves CPU-dense stages whose rows are small but expensive
      // (window rank over shingle rows: 4 tasks; Jaccard array_intersect
      // verify: 2 of 32 — stage-profiled round 6). 64 KB keeps such
      // stages near the core count at fixture scale; real-deployment
      // shuffles are orders of magnitude past either floor, where
      // parallelismFirst governs anyway.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(localFsConf)
      .config(codegenConf)
      .withExtensions(new GraftExtensions)
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    GraftFunctions.register(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
