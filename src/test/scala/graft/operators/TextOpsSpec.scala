package graft.operators

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkTestBase {

  test("langid guess is deterministic across runs and covers all docs") {
    val a = TextOps.q38.fn(spark, sf0001).collect().map(_.toSeq).toSeq
    val b = TextOps.q38.fn(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(a == b)
    val total = a.map(_.last.asInstanceOf[Long]).sum
    assert(total == 500L, s"distribution should cover all 500 docs, got $total")
  }

  test("fingerprint is stable and partitions the corpus") {
    val fp = TextOps.q45.fn(spark, sf0001).collect()
    assert(fp.map(_.getLong(1)).sum == 500L)
  }

  test("native graft_bigram_hashes equals the composed xxhash64 bigram form") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") < 50)
    val toks = split(col("text"), " ")
    val composed = d.select(col("doc_id"), explode(transform(
        sequence(lit(0), size(toks) - 2),
        i => struct(
          xxhash64(element_at(toks, i + 1), element_at(toks, i + 2)).as("hb"),
          xxhash64(element_at(toks, i + 1)).as("h1")))).as("b"))
      .select(col("doc_id"), col("b.hb"), col("b.h1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val native = d.select(col("doc_id"),
        explode(call_function("graft_bigram_hashes", toks)).as("b"))
      .select(col("doc_id"), col("b.hb"), col("b.h1"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(native.sorted == composed.sorted)
    // degenerate: single-token doc yields no bigrams
    import spark.implicits._
    val one = Seq((1L, "solo")).toDF("doc_id", "text")
    assert(one.select(call_function("graft_bigram_hashes", split(col("text"), " ")))
      .collect()(0).getSeq[Any](0).isEmpty)
  }

  test("tfidf ranks are 1..3 per doc with no float output") {
    val rows = TextOps.q39.fn(spark, sf0001).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
    }
  }

  test("score threshold keeps exactly the top 80% by rank (q71)") {
    val df = TextOps.q71.fn(spark, sf0001)
    // rk is a global rank over the whole corpus: LongType by contract, so
    // a future type change fails here with a message, not a cast exception.
    assert(df.schema("rk").dataType == org.apache.spark.sql.types.LongType,
      s"q71 rk must be LongType, got ${df.schema("rk").dataType}")
    val rows = df.collect()
    val n = rows.length
    val kept = rows.filter(_.getBoolean(3))
    val dropped = rows.filterNot(_.getBoolean(3))
    assert(kept.length == n - n / 5, s"kept ${kept.length} of $n")
    // the cut is a clean rank partition: every kept doc outranks every
    // dropped doc
    assert(kept.map(_.getLong(2)).min > dropped.map(_.getLong(2)).max)
  }

  test("redactPii scrubs emails, phones and IPs and leaves clean text alone") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail me at jo.doe+x@sub.example.org today"),
      (2L, "dial 555-0142 or 555-9901 now"),
      (3L, "server 192.168.0.17 responded"),
      (4L, "all three a@b.cc 555-1234 10.0.0.1"),
      (5L, "nothing sensitive here at all"))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"), TextOps.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "mail me at <EMAIL> today")
    assert(out(2L) == "dial <PHONE> or <PHONE> now")
    assert(out(3L) == "server <IP> responded")
    assert(out(4L) == "all three <EMAIL> <PHONE> <IP>")
    assert(out(5L) == "nothing sensitive here at all")
  }

  test("q76 marks every redacted document clean, with the injected counts") {
    val rows = TextOps.q76.fn(spark, sf0001).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (if (id % 5 == 0) 1 else 0), s"emails for doc $id")
      assert(r.getInt(2) == (if (id % 7 == 0) 1 else 0), s"phones for doc $id")
      assert(r.getInt(3) == (if (id % 11 == 0) 1 else 0), s"ips for doc $id")
      assert(r.getBoolean(5), s"doc $id not clean after redaction")
      assert(!r.getString(4).contains("@"), s"doc $id still has an email")
    }
  }

  test("graft_nfc composes combining sequences and is identity on ASCII") {
    import spark.implicits._
    val out = Seq(
      "café",     // e + combining acute -> precomposed é
      "KELVIN",    // KELVIN SIGN -> K
      "Ωhm",       // OHM SIGN -> GREEK CAPITAL OMEGA
      "plain ascii")
      .toDF("s")
      .select(call_function("graft_nfc", col("s")))
      .collect().map(_.getString(0)).toSeq
    assert(out(0) == "café")
    assert(out(1) == "KELVIN")
    assert(out(2) == "Ωhm")
    assert(out(3) == "plain ascii")
    // idempotent: NFC of NFC is NFC
    assert(java.text.Normalizer.isNormalized(out(0), java.text.Normalizer.Form.NFC))
    // null propagates
    val n = spark.sql("SELECT graft_nfc(CAST(NULL AS STRING))").collect()(0)
    assert(n.isNullAt(0))
  }

  test("q77 output is NFC, lowercase, single-spaced and trimmed") {
    val rows = TextOps.q77.fn(spark, sf0001).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getLong(0)
      val norm = r.getString(2)
      assert(java.text.Normalizer.isNormalized(norm, java.text.Normalizer.Form.NFC))
      assert(!norm.contains("\t") && !norm.contains("  "), s"doc $id whitespace")
      assert(norm == norm.toLowerCase, s"doc $id not lowercased")
      assert(norm == norm.trim, s"doc $id not trimmed")
      if (id % 3 == 0) {
        assert(norm.contains("café"), s"doc $id missing composed accent")
        assert(norm.contains("kelvin"), s"doc $id KELVIN not folded")
        assert(norm.contains("ωhm"), s"doc $id OHM not folded to omega")
      }
      // dirty text is never shorter than normalized (collapse + compose)
      assert(r.getInt(1) >= r.getInt(3), s"doc $id length inversion")
    }
  }

  test("bm25: matches the hand-computed formula on a tiny corpus") {
    import spark.implicits._
    val d = Seq(
      (1L, "hash join scan hash extra pad pad2 pad3"), // dl=8 tf: hash 2, join 1, scan 1
      (2L, "hash alpha beta gamma"),                   // dl=4 tf: hash 1
      (3L, "nothing relevant here at all")             // dl=5, no query terms
    ).toDF("doc_id", "text")
    val out = TextOps.bm25Top20(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val n = 3L
    val avgdl = 17.0 / 3
    def w(tf: Long, df: Long, dl: Int): Double =
      math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
        (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp1 = r6(w(2, 2, 8) + w(1, 1, 8) + w(1, 1, 8))
    val exp2 = r6(w(1, 2, 4))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, 3L), (2L, 1L)),
      s"got ${out.toSeq}") // doc 3 matches nothing; doc 1 outscores doc 2
    assert(math.abs(out(0)._3 - exp1) < 1e-9, s"${out(0)._3} vs $exp1")
    assert(math.abs(out(1)._3 - exp2) < 1e-9, s"${out(1)._3} vs $exp2")
  }

  test("q104 on fixtures: top-20, scores descending, 1..3 terms matched") {
    val rows = TextOps.q104.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 20)
    assert(rows.forall { case (_, nt, _) => nt >= 1 && nt <= 3 })
    assert(rows.map(_._3).toSeq.sliding(2).forall(p => p.head >= p.last))
  }

  test("q118 resolution reproduces a naive blocked-levenshtein resolver on the real dictionary") {
    val names = graft.Tables(spark, sf0001).part
      .select(col("p_name")).distinct().collect().map(_.getString(0))
    def bucket(s: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      Integer.parseInt(md.take(2).map("%02x".format(_)).mkString, 16)
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val dirty = names.map { n =>
      val b = bucket(n)
      if (b % 2 == 0) {
        val pos = 3 + b % (n.length - 3) // 1-based deletion position
        n.substring(0, pos - 1) + n.substring(pos)
      } else n
    }.distinct
    val expected = dirty.flatMap { d =>
      val cands = names.filter(n => n.take(2) == d.take(2))
        .map(n => (lev(d, n), n)).filter(_._1 <= 2)
      if (cands.isEmpty) None
      else { val (dist, res) = cands.min; Some(d -> ((res, dist))) }
    }.toMap
    val got = TextOps.q118.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(got == expected,
      s"missing=${(expected.keySet -- got.keySet).take(3)} extra=${(got.keySet -- expected.keySet).take(3)} " +
        s"diff=${got.collect { case (k, v) if expected.get(k).exists(_ != v) => (k, v, expected(k)) }.take(3)}")
    // the corruption must be real AND recoverable: some dirty name differs
    // from every clean name yet still resolves
    assert(got.keys.exists(d => !names.contains(d)), "no name was actually corrupted")
    assert(got.collect { case (d, (_, dist)) if dist > 0 => d }.nonEmpty,
      "all resolutions were exact; edit-distance path untested")
  }

  test("q161 inverted index equals a naive rebuild; postings ascending, df/cf consistent") {
    val docs = graft.Tables(spark, sf0001).documents
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val nDocs = docs.length
    val naive = docs
      .flatMap { case (id, t) => t.split(" ", -1).map(term => (term, id)) }
      .groupBy(_._1).view.mapValues { occ =>
        val byDoc = occ.groupBy(_._2).view.mapValues(_.length.toLong)
          .toSeq.sortBy(_._1)
        (byDoc.length.toLong, occ.length.toLong,
          byDoc.map(_._1), byDoc.map(_._2))
      }.toMap
      .filter { case (_, (df, _, _, _)) => df >= 5 && df * 5 <= nDocs.toLong * 4 }
    val got = TextOps.q161.fn(spark, sf0001).collect().map { r =>
      // postings ship as comma-joined strings (q35 scalar-output protocol)
      r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3).split(",", -1).toSeq.map(_.toLong),
        r.getString(4).split(",", -1).toSeq.map(_.toLong)))
    }
    // output is term-ordered and matches the naive index exactly
    assert(got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
    assert(got.toMap == naive, s"got=${got.take(2).toSeq} naive=${naive.take(2)}")
    // structural invariants every consumer relies on
    got.foreach { case (term, (df, cf, ds, tfs)) =>
      assert(ds == ds.sorted && ds.distinct == ds, s"$term postings not ascending-unique")
      assert(ds.length.toLong == df && tfs.sum == cf, s"$term df/cf inconsistent")
    }
  }

  test("q165: OOV report matches a naive bigram-vocabulary replay") {
    val docs = graft.Tables(spark, sf0001).documents
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bigrams = docs.flatMap { case (src, text) =>
      val ts = text.split(" ", -1)
      if (ts.length < 2) Nil
      else ts.sliding(2).map(p => src -> s"${p(0)} ${p(1)}").toSeq
    }
    val st = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val v = 64 // small vocab so the fixture exercises a real OOV tail
    val vocab = st.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
      .toSeq.sortBy { case (t, cf) => (-cf, t) }.take(v).map(_._1).toSet
    val expected = st.groupBy(_._1._1).map { case (src, m) =>
      val n = m.values.sum
      val oov = m.collect { case ((_, t), c) if !vocab(t) => c }.sum
      val terms = m.size.toLong
      val oovTerms = m.keysIterator.count { case (_, t) => !vocab(t) }.toLong
      src -> ((n, oov, terms, oovTerms, oov * 1000000L / n))
    }
    val got = TextOps.oovReport(graft.Tables(spark, sf0001).documents, v)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (src, e) =>
      assert(got(src) == e, s"$src: got ${got(src)}, naive $e")
    }
    // the report must discriminate at both vocab sizes or it tests
    // nothing: some mass in vocab, some out
    assert(expected.values.exists(_._2 > 0), "no OOV at v=64")
    assert(expected.values.forall(v5 => v5._2 < v5._1), "everything OOV at v=64")
    val atShipped = TextOps.q165.fn(spark, sf0001).collect()
    assert(atShipped.forall(r => r.getLong(2) > 0 && r.getLong(2) < r.getLong(1)),
      "shipped OovVocabSize saturates the report at the fixture")
  }

  test("q186 novelty over hashed shingles equals the string-shingle replay") {
    // ground truth from UNHASHED string shingles — proves the xxhash64
    // working representation preserved every df (no collisions at the
    // fixture, the q33 set-semantics argument made concrete)
    val sh = Dedup.shingles(graft.Tables(spark, sf0001).documents).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val df = sh.groupBy(_._2).view.mapValues(_.length).toMap
    val expected = sh.groupBy(_._1).map { case (doc, ss) =>
      val novel = ss.count(s => df(s._2) == 1).toLong
      (doc, (ss.length.toLong, novel, novel * 1000000L / ss.length))
    }
    val got = TextOps.q186.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // the signal must separate the fixture's template families from its
    // unique docs: a low tail (near-dups share almost everything) and a
    // real spread above it
    val ppms = got.values.map(_._3)
    assert(ppms.exists(_ < 100000L),
      "no low-novelty docs — near-dup families missing from the fixture?")
    assert(ppms.max >= ppms.min + 300000L,
      s"novelty signal flat (min=${ppms.min}, max=${ppms.max}) — no separation")
  }
  test("q211 feature hashing equals an md5 driver replay; buckets stay inside [0, 256)") {
    val docs = Tables(spark, sf0001).documents
      .select(col("source"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def pfx(t: String): Int = Integer.parseInt(
      md.digest(t.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString, 16)
    val toks = docs.flatMap { case (src, text) =>
      text.split(" ", -1).map(t => (src, pfx(t) % 256, t))
    }
    val expected = toks.groupBy(t => (t._1, t._2)).toSeq.map {
      case ((src, b), ts) =>
        (src, b, ts.length.toLong, ts.map(_._3).distinct.length.toLong)
    }.sortBy { case (s0, b, _, _) => (s0, b) }
    val got = TextOps.q211.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    assert(got.forall(g => g._2 >= 0 && g._2 < 256))
    // the hashing trick must actually collide at this dim (n_terms > 1
    // somewhere) — otherwise the collision column is untested
    assert(got.exists(_._4 > 1), "no bucket carries more than one term")
  }

  test("q212 TVD drift equals a bigram driver replay and stays inside [0, 1e6]") {
    val docs = Tables(spark, sf0001).documents
      .select(col("source"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val grams = docs.flatMap { case (src, text) =>
      val ts = text.split(" ", -1)
      if (ts.length < 2) Seq.empty
      else ts.sliding(2).map(w => (src, w(0) + " " + w(1))).toSeq
    }
    val sg = grams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val gTot = grams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val sTot = grams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n = grams.length.toLong
    val expected = sTot.keys.toSeq.sorted.map { src =>
      val ns = sTot(src)
      // keysIterator, not keys: a Set-backed .map would dedupe equal
      // per-gram contributions before the sum
      val num = gTot.keysIterator.map { g =>
        val nsg = sg.getOrElse((src, g), 0L)
        (BigInt(nsg) * n - BigInt(gTot(g)) * ns).abs
      }.sum
      (src, ns, n, (num * 1000000 / (BigInt(2) * ns * n)).toLong)
    }
    val got = TextOps.q212.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    got.foreach { case (src, _, _, ppm) =>
      assert(ppm >= 0 && ppm <= 1000000L, s"$src: TVD $ppm outside [0, 1e6]")
    }
  }
  test("q221 collocations equal an exact lift-ratio driver replay; support floor holds") {
    val texts = Tables(spark, sf0001).documents
      .select(col("text")).collect().map(_.getString(0))
    val tokLists = texts.map(_.split(" ", -1).toSeq)
    val uni = tokLists.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val tt = tokLists.map(_.length.toLong).sum
    val bb = tokLists.map(ts => math.max(ts.length - 1, 0).toLong).sum
    val pairs = tokLists.filter(_.length >= 2)
      .flatMap(ts => ts.sliding(2).map(w => (w(0), w(1))))
    val bc = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      .filter(_._2 >= 5)
    val scored = bc.toSeq.map { case ((a, b), nxy) =>
      val lift = (BigInt(nxy) * tt * tt * 1000000 /
        (BigInt(bb) * uni(a) * uni(b))).toLong
      (a, b, nxy, lift)
    }
    val expected = scored
      .sortBy { case (a, b, _, l) => (-l, a, b) }.take(20)
    val got = TextOps.q221.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    assert(got.forall(_._3 >= 5), "support floor violated")
    // lift must discriminate: the top pair beats independence (1e6)
    assert(got.head._4 > 1000000L, s"top collocation at or below chance: ${got.head}")
  }

  test("q224 PR sweep equals a driver replay; conservation invariants hold") {
    import org.apache.spark.sql.functions._
    // per-doc (bin, keep) exactly as the query builds them
    val scored = TextOps.q65.fn(spark, sf0001)
      .withColumn("mean_lp_micro",
        floor(col("sum_lp_micro") * 1.0 / col("n_bigrams")).cast("long"))
      .select(col("doc_id"), col("mean_lp_micro"))
    val verdicts = Curation.gateVerdicts(graft.Tables(spark, sf0001).documents)
      .select(col("doc_id"), (col("q_keep") && col("rep_keep")).as("keep"))
    val rows = scored.join(verdicts, "doc_id")
      .select(floor(col("mean_lp_micro") * 1.0 / 50000).cast("long"), col("keep"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    val nPos = rows.count(_._2).toLong
    val expected = rows.map(_._1).distinct.sorted(Ordering[Long].reverse).map { b =>
      val ge = rows.filter(_._1 >= b)
      val (nGe, tp) = (ge.length.toLong, ge.count(_._2).toLong)
      (b * 50000, nGe, tp, nPos,
        tp * 1000000L / nGe,
        if (nPos == 0) None else Some(tp * 1000000L / nPos),
        tp * 2000000L / (nGe + nPos))
    }
    val got = TextOps.q224.fn(spark, sf0001).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)), r.getLong(6))).toSeq
    assert(got == expected.toSeq)
    // conservation: the loosest threshold retains everything and all keepers
    val last = got.last
    assert(last._2 == rows.length.toLong && last._3 == nPos)
    // recall is non-increasing as the threshold tightens (scan in output
    // order: thresholds descend... tighten = first rows)
    val recalls = got.flatMap(_._6)
    assert(recalls == recalls.sorted, "recall must grow as the threshold loosens")
  }

  test("q228 vocab growth: driver replay, telescoping cumsum, full-corpus coverage") {
    val rows = TextOps.q228.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // driver replay of the whole decile curve
    val docs = Tables(spark, sf0001).documents
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = docs.map(_._1).max + 1
    val firstSeen = scala.collection.mutable.Map[String, Long]()
    docs.sortBy(_._1).foreach { case (id, text) =>
      val ts = text.split(" ", -1)
      if (ts.length >= 2)
        ts.sliding(2).foreach { b =>
          val g = b.mkString(" ")
          if (!firstSeen.contains(g)) firstSeen(g) = id
        }
    }
    val newG = firstSeen.values.groupBy(d => d * 10 / n).view.mapValues(_.size.toLong).toMap
    val nDocs = docs.map(_._1).groupBy(d => d * 10 / n).view.mapValues(_.length.toLong).toMap
    var cum = 0L
    val expect = nDocs.keys.toSeq.sorted.map { b =>
      cum += newG.getOrElse(b, 0L)
      (b, nDocs(b), newG.getOrElse(b, 0L), cum)
    }
    assert(rows.toSeq == expect, s"vocab growth curve diverges from replay")
    // telescoping: the final cumulative vocabulary is the corpus bigram count
    assert(rows.last._4 == firstSeen.size.toLong)
    // coverage: decile doc counts sum to the corpus
    assert(rows.map(_._2).sum == docs.length.toLong)
  }

  test("q229 blocklist gate: every output row is a true hit and counts replay exactly") {
    val blocklist = Set("dup", "slow", "legacy")
    val rows = TextOps.q229.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty, "fixture contains blocklisted tokens")
    val docs = Tables(spark, sf0001).documents
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val expect = docs.flatMap { case (id, text) =>
      val hits = text.split(" ", -1).filter(blocklist)
      if (hits.isEmpty) None
      else Some(id -> (hits.length.toLong, hits.distinct.length.toLong, hits.min))
    }
    assert(rows.map(r => r._1 -> (r._2, r._3, r._4)).toMap == expect,
      "blocklist hit table diverges from replay")
    // clean docs never appear (output is hit-sized, not corpus-sized)
    rows.foreach { r => assert(r._2 >= 1 && blocklist(r._4)) }
  }

  test("q235 boilerplate miner: top-20 equals a naive 5-gram df/occurrence sweep") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val perDoc = docs.flatMap { case (id, t) =>
      val ts = t.split(" ", -1)
      if (ts.length < 5) Nil
      else ts.sliding(5).map(g => (g.mkString(" "), id)).toSeq
    }
    val byGram = perDoc.groupBy(_._1).map { case (g, occs) =>
      (g, occs.map(_._2).distinct.length.toLong, occs.length.toLong)
    }.toSeq
    val expected = byGram
      .sortBy { case (g, nd, no) => (-nd, -no, g) }.take(20)
    val got = TextOps.q235.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, {
      val bad = got.zip(expected).find { case (a, b) => a != b }
      s"first divergence: got=${bad.map(_._1)} want=${bad.map(_._2)}"
    })
    assert(expected.exists(_._2 > 1), "no cross-doc boilerplate gram in fixture")
  }

  test("q239 surprisal kernel: hand-computed bit-gap scores on a synthetic corpus") {
    import spark.implicits._
    // counts: x=5, y=2, z=1, N=8 → s(x)=len(bin 8)-len(bin 5)=1,
    // s(y)=4-2=2, s(z)=4-1=3
    val docs = Seq(
      (1L, "x x x x", "a"), // ppm = 4*1e6 div 4  = 1_000_000 → decibits 10
      (2L, "x y", "a"),     // ppm = 3*1e6 div 2  = 1_500_000 → decibits 15
      (3L, "y z", "b"))     // ppm = 5*1e6 div 2  = 2_500_000 → decibits 25
      .toDF("doc_id", "text", "source")
    val got = TextOps.surprisalHistogram(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("a", 10L, 1L, 4L), ("a", 15L, 1L, 2L), ("b", 25L, 1L, 2L)),
      s"surprisal histogram miscomputed: $got")
  }

  test("q239 surprisal scores are invariant under power-of-two corpus replication") {
    // duplicating every doc doubles n_t AND N, shifting both bin lengths
    // by exactly one bit — every per-token surprisal, hence every bucket,
    // is IDENTICAL; only the doc/token counts double. The law that makes
    // scores comparable across snapshot sizes.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val base = TextOps.surprisalHistogram(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val doubled = TextOps.surprisalHistogram(
        docs.union(docs.withColumn("doc_id", col("doc_id") + 1000000L)))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(doubled == base.map { case (s, b, nd, nt) => (s, b, 2 * nd, 2 * nt) },
      "replicated corpus shifted surprisal buckets")
    assert(base.map(_._2).distinct.length > 1,
      "fixture surprisal collapsed to one bucket — histogram uninformative")
  }

  test("q240 incremental surprisal covers exactly the delta docs with corpus-only counts") {
    val out = TextOps.q240.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def isDelta(id: Long): Boolean = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val bucket = Integer.parseInt(md5.take(2).map("%02x".format(_)).mkString, 16)
      bucket >= 52429
    }
    val delta = docs.filter { case (id, _) => isDelta(id) }
    assert(out.map(_._3).sum == delta.length.toLong,
      s"histogram doc mass ${out.map(_._3).sum} != delta docs ${delta.length}")
    assert(out.map(_._4).sum ==
      delta.map(_._2.split(" ", -1).length.toLong).sum,
      "histogram token mass != delta token total")
    // the delta never contributes to the index: a corpus-only replay of
    // per-doc mean surprisal must land every delta doc in the same
    // deci-bit bucket the engine reports
    val corpusToks = docs.filterNot { case (id, _) => isDelta(id) }
      .flatMap(_._2.split(" ", -1))
    val n = corpusToks.length.toLong
    val counts = corpusToks.groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
    def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val expect = delta.map { case (id, text) =>
      val ts = text.split(" ", -1)
      val s = ts.map(t => counts.get(t).map(c => bits(n) - bits(c)).getOrElse(bits(n))).sum
      (s * 1000000L / ts.length) / 100000L
    }.groupBy(identity).map { case (b, xs) => (b, xs.length.toLong) }
    val got = out.groupBy(_._2).map { case (b, xs) => (b, xs.map(_._3).sum) }
    assert(got == expect, s"decibit buckets diverge from replay: got=$got expect=$expect")
  }
}
