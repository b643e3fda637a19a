package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** graft_winnow_fps(toks, k, w) ≡ the composed column form it fused
  * (explode positions → conv(substring(md5(concat_ws(' ', slice)), 1, 8),
  * 16, 10)::long → per-doc window min over w rows → full windows only →
  * distinct) — the q103 scan stage. Bit-equality here is what keeps the
  * DuckDB oracle hash-identical after the fusion. */
class WinnowFingerprintsSpec extends SparkTestBase {
  import spark.implicits._

  /** The pre-fusion composed form, verbatim from round-14 q103. */
  private def composed(d: org.apache.spark.sql.DataFrame, k: Int, w: Int) = {
    val toks = split(col("text"), " ")
    val grams = d
      .select(col("doc_id"), toks.as("toks"), (size(toks) - (k - 1)).as("ng"))
      .filter(col("ng") >= w)
      .select(col("doc_id"), col("ng"),
        explode(sequence(lit(1), col("ng"))).as("pos"), col("toks"))
      .select(col("doc_id"), col("ng"), col("pos"),
        conv(substring(md5(concat_ws(" ",
          slice(col("toks"), col("pos"), lit(k))).cast("binary")), 1, 8),
          16, 10).cast("long").as("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams
      .withColumn("fp", min(col("h")).over(byDoc.rowsBetween(0, w - 1)))
      .filter(col("pos") <= col("ng") - (w - 1))
      .select(col("doc_id"), col("fp")).distinct()
  }

  private def fused(d: org.apache.spark.sql.DataFrame, k: Int, w: Int) =
    d.select(col("doc_id"),
      explode(call_function("graft_winnow_fps",
        split(col("text"), " "), lit(k), lit(w))).as("fp"))

  private def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap

  test("equals the composed form on random corpora (k=3, w=4 — the q103 shape)") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "longword",
      "the", "a", "und", "naïve", "42")
    val docs = (1L to 300L).map { id =>
      (id, Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    assert(sets(fused(docs, 3, 4)) == sets(composed(docs, 3, 4)))
  }

  test("equals the composed form for other (k, w)") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 120L).map { id =>
      (id, Seq.fill(rnd.nextInt(25))(rnd.nextInt(9).toString).mkString(" "))
    }.toDF("doc_id", "text")
    for ((k, w) <- Seq((1, 1), (2, 3), (5, 2), (4, 8)))
      assert(sets(fused(docs, k, w)) == sets(composed(docs, k, w)),
        s"mismatch at k=$k w=$w")
  }

  test("short documents (no full window) yield an empty array") {
    val docs = Seq((1L, "a b c d e f"), (2L, ""), (3L, "one two three"))
      .toDF("doc_id", "text")
    // len=6 → ng=4 → exactly one window; len=1 ("" splits to [""]) and
    // len=3 → ng<4 → empty
    val got = sets(fused(docs, 3, 4))
    assert(got.keySet == Set(1L) && got(1L).size == 1)
    assert(sets(composed(docs, 3, 4)) == got)
  }

  test("fingerprint values are the md5-prefix longs the oracle computes") {
    // h = unsigned first-8-hex-chars of md5("a b c")
    val h = fused(Seq((1L, "a b c")).toDF("doc_id", "text"), 3, 1)
      .collect().head.getLong(1)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("a b c".getBytes("UTF-8"))
    val want = java.lang.Long.parseLong(
      md.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    assert(h == want)
  }

  test("graft_winnow_window_mins: element i is window i's min; distinct equals graft_winnow_fps") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "longword",
      "the", "a", "und", "naïve", "42")
    val docs = (1L to 200L).map { id =>
      (id, Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val (k, w) = (3, 4)
    val got = docs.select(col("doc_id"),
        posexplode(call_function("graft_winnow_window_mins",
          split(col("text"), " "), lit(k), lit(w))).as(Seq("pos", "fp")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // composed positional form: per-doc window min at each full window
    val toks = split(col("text"), " ")
    val grams = docs
      .select(col("doc_id"), toks.as("toks"), (size(toks) - (k - 1)).as("ng"))
      .filter(col("ng") >= w)
      .select(col("doc_id"), col("ng"),
        explode(sequence(lit(1), col("ng"))).as("pos"), col("toks"))
      .select(col("doc_id"), col("ng"), col("pos"),
        conv(substring(md5(concat_ws(" ",
          slice(col("toks"), col("pos"), lit(k))).cast("binary")), 1, 8),
          16, 10).cast("long").as("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val want = grams
      .withColumn("fp", min(col("h")).over(byDoc.rowsBetween(0, w - 1)))
      .filter(col("pos") <= col("ng") - (w - 1))
      .select(col("doc_id"), (col("pos") - 1).as("pos"), col("fp"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want)
    // distinct-values identity with the fused distinct form
    val distinctGot = got.groupBy(_._1).view
      .mapValues(_.map(_._3).toSet).toMap
    assert(distinctGot == sets(fused(docs, k, w)))
  }

  test("null token is skipped like concat_ws; null array is null row") {
    val one = Seq(Tuple1(Array[String]("a", null, "c", "d", "e", "f")))
      .toDF("toks")
    val viaExpr = one.select(explode(
      call_function("graft_winnow_fps", col("toks"), lit(3), lit(1))).as("fp"))
      .collect().map(_.getLong(0)).toSet
    val viaCols = one
      .select(explode(sequence(lit(1), size(col("toks")) - 2)).as("pos"), col("toks"))
      .select(conv(substring(md5(concat_ws(" ",
        slice(col("toks"), col("pos"), lit(3))).cast("binary")), 1, 8),
        16, 10).cast("long").as("fp"))
      .collect().map(_.getLong(0)).toSet
    assert(viaExpr == viaCols)
    val n = Seq(Tuple1(Option.empty[Array[String]])).toDF("toks")
      .select(call_function("graft_winnow_fps", col("toks"), lit(3), lit(4)))
      .collect()
    assert(n.head.isNullAt(0))
  }
}
