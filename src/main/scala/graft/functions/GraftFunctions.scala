package graft.functions

import graft.functions.expressions.{ArrayStats, BigramHashes, ByteHistogram, ChunkHashes, DotProduct, HashedShingles, LshBuckets, LshProbeKeys, MinHash64, NearestCells, NfcNormalize, SimHash64, SortedIntersect, SortedIntersectCount, TopKRows, WinnowFingerprints, WinnowWindowMins}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** The arguments of one call to a [[NativeFn]]; `int`/`long` read an
  * argument that must be a literal of that type. */
final class NativeArgs(fn: String, args: Seq[Expression]) {
  def apply(i: Int): Expression = args(i)
  def int(i: Int): Int = literal(i, IntegerType).asInstanceOf[Int]
  def long(i: Int): Long = literal(i, LongType).asInstanceOf[Long]

  private def literal(i: Int, dt: DataType): Any = args(i) match {
    case Literal(v, `dt`) if v != null => v
    case _ => throw new IllegalArgumentException(
      s"$fn: argument ${i + 1} must be a literal of type ${dt.simpleString}")
  }
}

/** One native SQL function: its name, the expression class it builds, its
  * argument count and its builder. */
final case class NativeFn(name: String, exprClass: Class[_ <: Expression], arity: Int,
    build: NativeArgs => Expression) {
  def id: FunctionIdentifier = FunctionIdentifier(name)
  def info: ExpressionInfo = new ExpressionInfo(exprClass.getName, name)
  /** What both install paths register: the arity check, then [[build]]. */
  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == arity, s"$name takes $arity arguments, got ${args.length}")
    build(new NativeArgs(name, args))
  }
}

/** The library's native Catalyst expressions, callable from SQL and from
  * the Column API (`call_function`). Sessions from [[graft.LocalSession]]
  * have them all; any other session runs [[GraftFunctions.register]] once,
  * or is built with [[GraftExtensions]]. */
object GraftFunctions {
  val table: Seq[NativeFn] = Seq(
    NativeFn("graft_dot", classOf[DotProduct], 2, a => DotProduct(a(0), a(1))),
    NativeFn("graft_simhash64", classOf[SimHash64], 1, a => SimHash64(a(0))),
    NativeFn("graft_byte_histogram", classOf[ByteHistogram], 1, a => ByteHistogram(a(0))),
    NativeFn("graft_minhash64", classOf[MinHash64], 2, a => MinHash64(a(0), a.int(1))),
    NativeFn("graft_hashed_shingles", classOf[HashedShingles], 2,
      a => HashedShingles(a(0), a.int(1))),
    NativeFn("graft_winnow_fps", classOf[WinnowFingerprints], 3,
      a => WinnowFingerprints(a(0), a.int(1), a.int(2))),
    NativeFn("graft_winnow_window_mins", classOf[WinnowWindowMins], 3,
      a => WinnowWindowMins(a(0), a.int(1), a.int(2))),
    NativeFn("graft_bigram_hashes", classOf[BigramHashes], 1, a => BigramHashes(a(0))),
    NativeFn("graft_sorted_intersect_count", classOf[SortedIntersectCount], 2,
      a => SortedIntersectCount(a(0), a(1))),
    NativeFn("graft_sorted_intersect", classOf[SortedIntersect], 2,
      a => SortedIntersect(a(0), a(1))),
    NativeFn("graft_array_stats", classOf[ArrayStats], 1, a => ArrayStats(a(0))),
    NativeFn("graft_chunk_hashes", classOf[ChunkHashes], 2, a => ChunkHashes(a(0), a.int(1))),
    NativeFn("graft_top_k", classOf[TopKRows], 4, a => TopKRows(a(0), a(1), a(2), a.int(3))),
    NativeFn("graft_nearest_cells", classOf[NearestCells], 3,
      a => NearestCells(a(0), a(1), a.int(2))),
    NativeFn("graft_nfc", classOf[NfcNormalize], 1, a => NfcNormalize(a(0))),
    NativeFn("graft_lsh_buckets", classOf[LshBuckets], 3,
      a => LshBuckets(a(0), a.int(1), a.int(2))),
    NativeFn("graft_bloom_agg", classOf[BloomFilterAggregate], 2,
      a => new BloomFilterAggregate(a(0), a.long(1))),
    NativeFn("graft_bloom_might_contain", classOf[BloomFilterMightContain], 2,
      a => BloomFilterMightContain(a(0), a(1))),
    NativeFn("graft_lsh_probe_keys", classOf[LshProbeKeys], 4,
      a => LshProbeKeys(a(0), a.int(1), a.int(2), a.int(3))))

  /** Installs every row whose name the session's registry lacks and never
    * replaces an entry, so a second call changes nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      table.filterNot(f => registry.functionExists(f.id))
        .foreach(f => registry.registerFunction(f.id, f.info, f.builder))
    }
  }
}

/** `SparkSessionExtensions` installer for [[GraftFunctions.table]]: set
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) and every session of
  * that builder, `newSession()` included, has the functions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach(f => e.injectFunction((f.id, f.info, f.builder)))
}
