package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Typed access to the fixture tables (TPC-H-ish star schema + events +
  * documents/embeddings; see /root/repo/FIXTURES.md).
  *
  * Scale design: every loader is a plain columnar parquet scan, so Catalyst
  * pushes filters and prunes columns down to the file reader (DataSource V2,
  * vectorized). At 100 TB the same code path works unchanged — partition
  * discovery, predicate pushdown and `spark.sql.files.maxPartitionBytes`
  * sizing are all handled by the source, not by this library.
  *
  * Each file's schema is inferred once: `spark.read.parquet` runs a
  * footer-reading Spark job on every load (~100 ms), so the schema is
  * kept per path, stamped with the file statuses (path, modification
  * time, length) and the session's `nanosAsLong` setting; a rewritten
  * file is inferred again. Every load still returns a fresh relation
  * (`spark.read.schema(...)`, no job): two loads of one table carry
  * distinct attribute ids, so `a("x") === b("y")` self-joins stay
  * unambiguous.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private[graft] def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val stamp = Tables.stamp(spark, path)
    Option(Tables.schemas.get(path)) match {
      case Some((`stamp`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        Tables.schemas.put(path, (stamp, df.schema))
        df
    }
  }

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  /** Schema-adaptive load of `events`, canonicalising `ts` to
    * `TimestampType` (µs, session TZ pinned UTC) whatever the fixture's
    * physical encoding:
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 refuses to read it as a
    *    timestamp, so under `spark.sql.legacy.parquet.nanosAsLong`
    *    (set by [[LocalSession]]; the loader never writes session conf)
    *    it surfaces as int64 nanos —
    *    truncate with integer division (no double round-trip, which would
    *    lose precision above 2^53), matching DuckDB's ns→µs CAST.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=0): Spark reads
    *    TIMESTAMP_NTZ — a plain cast to TimestampType is value-identical
    *    under the UTC session TZ.
    *  - already TimestampType: pass through.
    *
    * Branching on the loaded schema (not a baked-in assumption) means a
    * regenerated fixture changes nothing downstream; `TablesSchemaSpec`
    * canaries the physical schema of every loader. */
  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other (expected int64 nanos, TIMESTAMP_NTZ or TIMESTAMP)")
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** The last inferred schema per path, with the [[stamp]] it was
    * inferred under. One entry per path: a rewrite replaces it. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Any], StructType)]()

  /** What a path's inferred schema depends on: the status of every file
    * it names (the file itself, or a directory's entries) and the
    * `nanosAsLong` setting. */
  private def stamp(spark: SparkSession, path: String): Seq[Any] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val files = if (st.isDirectory) st +: fs.listStatus(p).toSeq else Seq(st)
    spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") +:
      files.map(f => (f.getPath.toString, f.getModificationTime, f.getLen))
  }
}
