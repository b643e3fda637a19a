package graft.operators

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** The multimodal decode contract: the imperative `mapPartitions` path
  * (where a real codec plugs in) must produce exactly the rows of the
  * registered native-expression stub — schema, partitioning and batch
  * shape are thereby proven before any real codec exists. Both paths are
  * BYTE-semantic (they parse the blob, not the text), so the contract
  * holds for non-ASCII corpora too — pinned below.  */
class MultimodalSpec extends SparkTestBase {
  import spark.implicits._

  private def nativeMeta(df: org.apache.spark.sql.DataFrame) =
    Multimodal.fakeDecodeMeta(df)
      .select(col("doc_id"),
        col("media_meta.width").as("width"),
        col("media_meta.height").as("height"),
        col("media_meta.format").as("format"))

  test("batched imperative decode ≡ native-expression stub on the fixture corpus") {
    val docs = Tables(spark, sf0001).documents
      .withColumn("blob", col("text").cast("binary"))
    val batched = Multimodal.decodeMetaBatched(docs)
      .orderBy(col("doc_id")).collect().toSeq
    val native = nativeMeta(docs).orderBy(col("doc_id")).collect().toSeq
    assert(batched.nonEmpty)
    assert(batched == native)
  }

  test("decode paths agree byte-for-byte on NON-ASCII blobs") {
    // UTF-8 multi-byte leads: 'é' = C3 A9, '日' = E6 97 A5. Byte 0/1 of
    // the blob differ from codepoint 0/1 of the text — the old
    // char-semantic stub would diverge here; the byte-semantic one must
    // match the kernel exactly.
    val docs = Seq((1L, "héllo"), (2L, "日本語"), (3L, "é"), (4L, "aé"))
      .toDF("doc_id", "text").withColumn("blob", col("text").cast("binary"))
    val batched = Multimodal.decodeMetaBatched(docs)
      .orderBy(col("doc_id")).collect().toSeq
    val native = nativeMeta(docs).orderBy(col("doc_id")).collect().toSeq
    assert(batched == native, s"batched=$batched native=$native")
    // spot-check true byte values: "é" blob = [C3, A9], length 2
    val r3 = batched.find(_.getLong(0) == 3L).get
    assert(r3.getInt(1) == 0xC3 * 4 + 64)
    assert(r3.getInt(2) == 0xA9 * 3 + 48)
    assert(r3.getString(3) == "png")
  }

  test("batched decode handles empty and single-byte blobs") {
    val docs = Seq((1L, ""), (2L, "A"), (3L, "AB"))
      .toDF("doc_id", "text").withColumn("blob", col("text").cast("binary"))
    val rows = Multimodal.decodeMetaBatched(docs)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    // missing bytes default to 0 on both paths (ascii('') = 0 in Spark)
    assert(rows == Seq(
      (1L, 64, 48, "png"),
      (2L, 65 * 4 + 64, 48, "jpg"),
      (3L, 65 * 4 + 64, 66 * 3 + 48, "png")), rows.mkString(";"))
    val native = nativeMeta(docs).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq
    assert(native == rows)
  }

  test("batched decode runs one kernel per partition, not per job (stays distributed)") {
    val docs = Tables(spark, sf0001).documents
      .withColumn("blob", col("text").cast("binary")).repartition(3)
    val out = Multimodal.decodeMetaBatched(docs)
    assert(out.rdd.getNumPartitions == 3)
    assert(out.count() == docs.count())
  }

  test("q172: media gate matches a naive per-asset replay and every gate is live") {
    val texts = Tables(spark, sf0001).documents
      .select(col("text")).collect().map(_.getString(0))
    val naive = texts.map { t =>
      val w = t.charAt(0).toInt * 4 + 64
      val h = (if (t.length > 1) t.charAt(1).toInt else 0) * 3 + 48
      val nb = t.getBytes("UTF-8").length.toLong
      val fmt = if (t.length % 2 == 0) "png" else "jpg"
      val res = w >= 480 && h >= 360
      val asp = math.max(w, h) <= math.min(w, h) * 3
      val pay = nb >= 32 && w.toLong * h <= nb * 1024
      (fmt, res, asp, pay)
    }
    val expected = naive.groupBy(_._1).map { case (f, xs) =>
      f -> ((xs.length.toLong,
        xs.count(!_._2).toLong, xs.count(!_._3).toLong, xs.count(!_._4).toLong,
        xs.count(x => x._2 && x._3 && x._4).toLong))
    }
    val got = Multimodal.q172.fn(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (f, e) =>
      assert(got(f) == e, s"$f: got ${got(f)}, naive $e")
    }
    // every gate and the keep bucket must be live at the fixture, or a
    // threshold regression would pass silently
    val tot = expected.values
    assert(tot.exists(_._2 > 0) && tot.exists(_._3 > 0) && tot.exists(_._4 > 0))
    assert(tot.forall(v => v._5 > 0 && v._5 < v._1))
  }

  test("q179: batched imperative feature kernel ≡ native graft_byte_histogram; JVM recompute agrees") {
    val d = graft.Tables(spark, sf0001).documents
      .withColumn("blob", org.apache.spark.sql.functions.col("text").cast("binary"))
    val batched = Multimodal.byteFeaturesBatched(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toSeq, r.getInt(3)))).toMap
    val native = Multimodal.q179.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        r.getString(2).split(",", -1).toSeq.map(_.toLong), r.getInt(3)))).toMap
    assert(batched == native,
      s"first diff: ${batched.collectFirst { case (k, v) if native.get(k) != Some(v) => (k, v, native.get(k)) }}")
    // and both equal a driver-side recompute from the raw bytes
    val raw = graft.Tables(spark, sf0001).documents
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8")))
    val expected = raw.map { case (id, bytes) =>
      val counts = new Array[Long](16)
      bytes.foreach(b => counts((b & 0xFF) >> 4) += 1L)
      id -> ((bytes.length.toLong, counts.toSeq, counts.indexOf(counts.max)))
    }.toMap
    assert(native == expected)
    // invariants every consumer relies on: 16 bins, Σ = n_bytes
    native.foreach { case (id, (nb, hist, top)) =>
      assert(hist.length == 16 && hist.sum == nb && top >= 0 && top < 16, s"doc $id")
    }
  }
  test("q209 aHash near-dup equals a byte-level driver replay; exact dups land at hamming 0") {
    val docs = Tables(spark, sf0001).documents
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val eligible = docs.map { case (id, t) => (id, t.getBytes("UTF-8")) }
      .filter(_._2.length >= 60)
    def ahash(bs: Array[Byte]): Long = {
      val v = bs.take(60).map(b => (b & 0xFF).toLong)
      val mean = v.sum / 60
      (1 to 60).map(i => if (v(i - 1) > mean) 1L << (60 - i) else 0L).sum
    }
    val hs = eligible.map { case (id, bs) => (id, ahash(bs)) }
    val cand = for {
      (d1, h1) <- hs; (d2, h2) <- hs
      if d1 < d2
      if (0 until 4).exists(c => ((h1 >> (c * 15)) & 0x7FFF) == ((h2 >> (c * 15)) & 0x7FFF))
      hd = java.lang.Long.bitCount(h1 ^ h2)
      if hd <= 8
    } yield (d1, d2, hd)
    val expected = cand.sortBy { case (a, b, _) => (a, b) }.toSeq
    val got = Multimodal.q209.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expected)
    // hand corpus with KNOWN structure through the factored pipeline:
    // 1 ≡ 2 byte-identical (hamming 0), 3 = one flipped byte near 1
    // (small hamming), 4 unrelated, 5 too short to hash
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again ok"
    val flip = base.updated(10, 'Z')
    val other = "ZZZZ AAAA zzzz aaaa ZZZZ AAAA zzzz aaaa ZZZZ AAAA zzzz aaaa !!"
    val hand = Seq((1L, base), (2L, base), (3L, flip), (4L, other), (5L, "tiny"))
      .toDF("doc_id", "text")
      .withColumn("blob", col("text").cast("binary"))
    val handGot = Multimodal.ahashPairs(hand).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val handMap = handGot.map(g => (g._1, g._2) -> g._3).toMap
    assert(handMap.get((1L, 2L)).contains(0), s"identical blobs not at hamming 0: $handGot")
    assert(handMap.contains((1L, 3L)) && handMap((1L, 3L)) > 0 && handMap((1L, 3L)) <= 8,
      s"one-byte flip should be a small-hamming near-dup: $handGot")
    assert(!handGot.exists(g => g._1 == 4L || g._2 == 4L || g._1 == 5L || g._2 == 5L),
      s"unrelated/short docs must not pair: $handGot")
  }
}
