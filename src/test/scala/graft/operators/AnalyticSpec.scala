package graft.operators

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Brute-force cross-checks of the Analytic pack on sf0.001 — every
  * operator's distributed plan is re-derived with a naive in-memory
  * computation over the collected fixture (1 000 events / 500 docs). */
class AnalyticSpec extends SparkTestBase {

  private val usPerDay = 86400L * 1000000L

  test("q108: per-day peaks match a naive global sweep over the full timeline") {
    val iv = Tables(spark, sf0001).events
      .select(col("event_id"), unix_micros(col("ts")).as("s"),
        (unix_micros(col("ts")) + floor(col("value")).cast("long") * 1000000L).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // global sweep: (+1 at s, -1 at e), ends before starts at equal t
    val points = iv.flatMap { case (id, s, e) => Seq((s, 1, id), (e, -1, id)) }
      .sortBy { case (t, d, id) => (t, d, id) }
    var cur = 0L
    // level at each instant, tracked per UTC day; a day's peak includes
    // the level standing at its first instant (carry-in)
    val peaks = scala.collection.mutable.Map.empty[Long, Long]
    var prevDay = Long.MinValue
    for ((t, d, _) <- points) {
      val day = Math.floorDiv(t, usPerDay)
      if (day != prevDay && prevDay != Long.MinValue) {
        // concurrency standing as the new day opens (before this point)
        if (cur > 0) peaks(day) = math.max(peaks.getOrElse(day, 0L), cur)
      }
      cur += d
      peaks(day) = math.max(peaks.getOrElse(day, Long.MinValue), cur)
      prevDay = day
    }
    val got = Analytic.q108.fn(spark, sf0001).collect()
      .map(r => (Math.floorDiv(r.getDate(0).toLocalDate.toEpochDay * usPerDay, usPerDay),
        r.getLong(2))).toMap
    val expected = peaks.toMap.map { case (d, p) => d -> math.max(p, 0L) }
    assert(got == expected.filter { case (d, _) => got.contains(d) })
    assert(got.keySet == expected.keySet,
      s"day sets differ: ${got.keySet.diff(expected.keySet)} / ${expected.keySet.diff(got.keySet)}")
    // the fixture must actually exercise midnight carry-over
    val carries = Analytic.q108.fn(spark, sf0001).collect().map(_.getLong(1)).sum
    assert(carries > 0, "fixture has no midnight-spanning session; carry path untested")
  }

  test("q109: slope/intercept/r2 match a naive per-group OLS") {
    val t = Tables(spark, sf0001)
    val pts = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        datediff(col("o_orderdate").cast("date"), lit("1998-01-01").cast("date")).as("x"),
        col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.getInt(1).toDouble, r.getDouble(2)))
    val byNation = pts.groupBy(_._1)
    val got = Analytic.q109.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(got.keySet == byNation.keySet)
    for ((nation, rows) <- byNation) {
      val n = rows.length.toDouble
      val sx = rows.map(_._2).sum
      val sy = rows.map(_._3).sum
      val sxy = rows.map(p => p._2 * p._3).sum
      val sxx = rows.map(p => p._2 * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val intercept = (sy - slope * sx) / n
      val (gn, gSlope, gIntercept, gR2) = got(nation)
      assert(gn == rows.length)
      assert(math.abs(gSlope - slope) < 1e-3, s"$nation slope $gSlope vs $slope")
      assert(math.abs(gIntercept - intercept) < 1.0, s"$nation intercept")
      assert(gR2 >= 0.0 && gR2 <= 1.0, s"$nation r2 out of range: $gR2")
    }
  }

  test("q110: keys reproduce from MessageDigest md5 and the cut is the true top-100") {
    val docs = Tables(spark, sf0001).documents
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def key(docId: Long, w: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(docId.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 8)
      val u32 = java.lang.Long.parseLong(hex, 16)
      math.log((u32 + 0.5) / 4294967296.0) / w
    }
    val expected = docs.map { case (id, w) => (id, key(id, w)) }
      .sortBy { case (id, k) => (-k, id) }.take(100)
    val got = Analytic.q110.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(got.length == 100)
    assert(got.map(_._1).toSeq == expected.map(_._1).toSeq,
      "top-100 membership/order differs from the brute-force A-ES sample")
    got.zip(expected).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-8) }
  }

  test("q110: the sample is length-biased — mean sampled length exceeds corpus mean") {
    val corpusMean = Tables(spark, sf0001).documents
      .agg(avg(col("n_chars"))).collect()(0).getDouble(0)
    val sampleMean = Analytic.q110.fn(spark, sf0001)
      .agg(avg(col("n_chars"))).collect()(0).getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("q111: cells partition the joined input and bounds respect bin edges") {
    val t = Tables(spark, sf0001)
    val total = t.orders.join(t.customer, col("o_custkey") === col("c_custkey")).count()
    val rows = Analytic.q111.fn(spark, sf0001).collect()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.foreach { r =>
      val bin = r.getInt(1); val lo = bin * 50000.0; val hi = (bin + 1) * 50000.0
      assert(r.getDouble(4) >= lo && r.getDouble(5) < hi,
        s"bin $bin holds values outside [$lo, $hi)")
    }
  }

  test("q112: flagged rows are exactly those beyond the median/MAD threshold") {
    val vals = Tables(spark, sf0001).events
      .select(col("event_id"), col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def medianOf(xs: Array[Double]): Double = {
      val s = xs.sorted; val n = s.length
      val pos = 0.5 * (n - 1); val lo = s(pos.toInt)
      lo + (s(math.ceil(pos).toInt) - lo) * (pos - pos.toInt)
    }
    val expected = vals.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val med = medianOf(rows.map(_._3))
      val mad = medianOf(rows.map(r => math.abs(r._3 - med)))
      rows.toSeq.collect { case (id, _, v) if math.abs(v - med) / (1.4826 * mad) > 1.3 => id }
    }.toSet
    val got = Analytic.q112.fn(spark, sf0001).collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"flag sets differ: extra=${got.diff(expected)} missing=${expected.diff(got)}")
    assert(got.nonEmpty, "fixture yields no outliers; threshold dead")
  }

  test("q113: fused top-20 matches a naive two-ranking RRF") {
    val docs = Tables(spark, sf0001).documents
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rankQ = docs.sortBy { case (id, nc) => (-nc, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val bm = TextOps.bm25Top20(Tables(spark, sf0001).documents)
      .select(col("doc_id"), col("score_r")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val rankB = bm.sortBy { case (id, s) => (-s, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val fused = docs.map { case (id, _) =>
      val f = 1.0 / (60.0 + rankQ(id)) + rankB.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      (id, f)
    }.sortBy { case (id, f) => (-f, id) }.take(20)
    val got = Analytic.q113.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(got.map(_._1).toSeq == fused.map(_._1).toSeq)
    got.zip(fused).foreach { case ((_, g), (_, e)) =>
      assert(math.abs(g - e) < 1e-7) }
    // the fusion must actually mix signals: some top-20 doc carries a
    // BM25 rank and some does not
    val gotRankB = Analytic.q113.fn(spark, sf0001).collect().map(r => Option(r.get(2)))
    assert(gotRankB.exists(_.isDefined) && gotRankB.exists(_.isEmpty),
      "top-20 comes entirely from one signal; fusion untested")
  }

  test("q114: correlations match naive Pearson and sit in [-1, 1]") {
    val rows = Tables(spark, sf0001).lineitem
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    def pearson(xs: Array[Double], ys: Array[Double]): Double = {
      val n = xs.length.toDouble
      val sx = xs.sum; val sy = ys.sum
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum; val syy = ys.map(a => a * a).sum
      (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    }
    val got = Analytic.q114.fn(spark, sf0001).collect()(0)
    assert(got.getLong(0) == rows.length)
    val expected = Seq(
      pearson(rows.map(_._1), rows.map(_._2)),
      pearson(rows.map(_._1), rows.map(_._3)),
      pearson(rows.map(_._2), rows.map(_._3)))
    Seq(got.getDouble(1), got.getDouble(2), got.getDouble(3)).zip(expected)
      .foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-4, s"corr $g vs naive $e")
        assert(g >= -1.0 && g <= 1.0)
      }
    // the three measures are generated independently in this fixture
    // (unlike true TPC-H, price is NOT qty × unit) — so the interesting
    // property is that near-zero correlations are still reproduced
    // exactly, not buried in reduction noise
    assert(Seq(1, 2, 3).forall(i => math.abs(got.getDouble(i)) < 0.1),
      "independent fixture columns should be near-uncorrelated")
  }

  test("q115: each trailing frame holds exactly the points within 27 days and its slope is the frame's OLS") {
    val t = Tables(spark, sf0001)
    val pts = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        datediff(col("o_orderdate").cast("date"), lit("1998-01-01").cast("date")).as("x"),
        col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.getInt(1).toLong, r.getDouble(2)))
      .groupBy(_._1)
    val got = Analytic.q115.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // spot-check every 25th output cell against a naive frame recompute
    got.keys.toSeq.sortBy(identity).zipWithIndex.filter(_._2 % 25 == 0).map(_._1)
      .foreach { case (nation, day) =>
        val frame = pts(nation).filter(p => p._2 >= day - 27 && p._2 <= day)
        val (gn, gSlope) = got((nation, day))
        assert(gn == frame.length, s"($nation,$day) frame size $gn vs ${frame.length}")
        val n = frame.length.toDouble
        val sx = frame.map(_._2.toDouble).sum; val sy = frame.map(_._3).sum
        val sxy = frame.map(p => p._2 * p._3).sum
        val sxx = frame.map(p => p._2.toDouble * p._2).sum
        val den = n * sxx - sx * sx
        assert(den > 0, s"($nation,$day) emitted with degenerate frame")
        assert(math.abs(gSlope - (n * sxy - sx * sy) / den) < 1e-2,
          s"($nation,$day) slope mismatch")
      }
    // degenerate single-day frames must be filtered, not emitted as NaN/null
    assert(!got.values.exists { case (_, s) => s.isNaN }, "NaN slope leaked")
  }

  private def md5Bucket16(s: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    Integer.parseInt(md.take(2).map("%02x".format(_)).mkString, 16)
  }

  test("q120: per-nation Gini matches the naive sorted-rank formula and sits in [0, 1)") {
    val t = Tables(spark, sf0001)
    val pts = t.orders
      .join(t.customer, col("o_custkey") === col("c_custkey"))
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_totalprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1)
    val got = Analytic.q120.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == pts.keySet)
    for ((nation, rows) <- pts) {
      val ys = rows.map(_._2).sorted
      val n = ys.length.toDouble
      val siy = ys.zipWithIndex.map { case (y, i) => (i + 1) * y }.sum
      val gini = 2.0 * siy / (n * ys.sum) - (n + 1.0) / n
      val (gn, gG) = got(nation)
      assert(gn == ys.length)
      assert(math.abs(gG - gini) < 1e-4, s"$nation gini $gG vs $gini")
      assert(gG >= 0.0 && gG < 1.0)
    }
  }

  test("q121: z-statistic reproduces from raw per-user counts") {
    val events = Tables(spark, sf0001).events
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val perUser = events.groupBy(_._1).toSeq.map { case (u, es) =>
      (md5Bucket16(u.toString) % 2, if (es.count(_._2 == "purchase") >= 14) 1 else 0)
    }
    val byVar = perUser.groupBy(_._1)
    val (n0, c0) = (byVar(0).size, byVar(0).map(_._2).sum)
    val (n1, c1) = (byVar(1).size, byVar(1).map(_._2).sum)
    val p0 = c0.toDouble / n0; val p1 = c1.toDouble / n1
    val pp = (c0 + c1).toDouble / (n0 + n1)
    val z = (p1 - p0) / math.sqrt(pp * (1 - pp) * (1.0 / n0 + 1.0 / n1))
    val r = Analytic.q121.fn(spark, sf0001).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((n0.toLong, c0.toLong, n1.toLong, c1.toLong)))
    assert(math.abs(r.getDouble(6) - z) < 1e-5, s"z ${r.getDouble(6)} vs $z")
    // the metric must discriminate: conversions strictly between 0 and all
    assert(c0 > 0 && c0 < n0 && c1 > 0 && c1 < n1,
      "degenerate conversion proportions; threshold needs retuning")
  }

  test("q123: merged sketch estimates land within HLL error of exact and merging is partition-insensitive") {
    val events = Tables(spark, sf0001).events
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val exact = events.groupBy(_._1).map { case (t, rows) =>
      t -> ((rows.map(_._2).distinct.size.toLong, rows.map(_._3).distinct.size.toLong))
    }
    val got = Analytic.q123.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == exact.keySet)
    for ((t, (days, users)) <- exact) {
      val (gDays, gEst) = got(t)
      assert(gDays == days, s"$t merged $gDays day-sketches, fixture has $days days")
      // default lgK=12 → relative standard error ≈ 1.6 %; 5 % is > 3σ
      assert(math.abs(gEst - users) <= math.max(1L, (0.05 * users).toLong),
        s"$t estimate $gEst vs exact $users")
    }
    // re-aggregatability: partials built under a different partitioning
    // union to the SAME register state, hence identical estimates
    val repart = Tables(spark, sf0001).events.repartition(7, col("user_id"))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(repart == got.map { case (t, (_, e)) => t -> e },
      "sketch union is not partitioning-insensitive")
  }

  test("q124: deciles hold the ANSI-ntile row counts and cover the value range in order") {
    val prices = Tables(spark, sf0001).orders
      .select(col("o_totalprice")).collect().map(_.getDouble(0)).sorted
    val n = prices.length
    val rows = Analytic.q124.fn(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (0 until 10), "expected exactly deciles 0–9")
    assert(rows.map(_._2).sum == n)
    // (rank−1)·10 div n puts the n%10 extra rows in the FIRST bins
    val expectedSizes = (0 until 10).map(i => n / 10 + (if (i < n % 10) 1 else 0))
    assert(rows.map(_._2).toSeq == expectedSizes.map(_.toLong))
    assert(rows.head._3 == prices.head && rows.last._4 == prices.last)
    rows.sliding(2).foreach { case Array((_, _, _, hi), (_, _, lo, _)) =>
      assert(hi <= lo, s"decile boundaries out of order: $hi > $lo")
    }
  }

  test("q125: per-cell expected counts and contributions match a naive chi-square") {
    val t = Tables(spark, sf0001)
    val obs = t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderpriority")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = obs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val rt = obs.groupBy(_._1).map { case (k, v) => k -> v.length.toDouble }
    val ct = obs.groupBy(_._2).map { case (k, v) => k -> v.length.toDouble }
    val gt = obs.length.toDouble
    val rows = Analytic.q125.fn(spark, sf0001).collect()
    val perCell = rows.filter(_.getString(0) != "ALL")
    assert(perCell.map(r => (r.getString(0), r.getString(1))).toSet == cells.keySet)
    perCell.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      val e = rt(k._1) * ct(k._2) / gt
      assert(r.getLong(2) == cells(k))
      assert(math.abs(r.getDouble(3) - e) < 1e-5, s"$k expected ${r.getDouble(3)} vs $e")
      val contrib = (cells(k) - e) * (cells(k) - e) / e
      assert(math.abs(r.getDouble(4) - contrib) < 1e-5, s"$k contrib")
    }
    val total = rows.find(_.getString(0) == "ALL").get
    assert(total.getLong(2) == obs.length)
    assert(total.isNullAt(3), "total row must carry a NULL expected count")
    assert(math.abs(total.getDouble(4) - perCell.map(_.getDouble(4)).sum) < 1e-5,
      "total chi2 must equal the sum of per-cell contributions")
  }

  test("q126: per-(type, dow) hot counts match a naive seasonal-median recompute") {
    val events = Tables(spark, sf0001).events
      .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"), col("value"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    def medianOf(xs: Array[Double]): Double = {
      val s = xs.sorted; val n = s.length
      val pos = 0.5 * (n - 1); val lo = s(pos.toInt)
      lo + (s(math.ceil(pos).toInt) - lo) * (pos - pos.toInt)
    }
    val expected = events.groupBy(e => (e._1, e._2)).map { case (k, rows) =>
      val med = medianOf(rows.map(_._3))
      k -> ((rows.length.toLong, med, rows.count(_._3 > med + 150.0).toLong))
    }
    val got = Analytic.q126.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == expected.keySet)
    for ((k, (n, med, hot)) <- expected) {
      val (gN, gMed, gHot, gRate) = got(k)
      assert(gN == n && gHot == hot, s"$k counts ($gN,$gHot) vs ($n,$hot)")
      assert(math.abs(gMed - med) < 1e-5, s"$k median $gMed vs $med")
      assert(math.abs(gRate - hot.toDouble / n) < 1e-5)
    }
    // the threshold must discriminate: hot events exist but are a minority
    val totHot = expected.values.map(_._3).sum
    val totN = expected.values.map(_._1).sum
    assert(totHot > 0, "no seasonal outliers in fixture; threshold dead")
    assert(totHot < totN / 2, "threshold flags a majority; not an outlier gate")
  }

  test("q127: fixed-point ranks reproduce bit-exactly from a naive iteration and conserve mass") {
    val t = Tables(spark, sf0001)
    val SCALE = 1000000000L
    val nations = t.nation.select(col("n_name")).collect().map(_.getString(0))
    val edges = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t.customer.join(t.nation, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("src")),
        col("o_custkey") === col("c_custkey"))
      .join(t.supplier.join(t.nation, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("dst")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val ow = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val pe = edges.map { case (s, d, w) => (s, d, w * SCALE / ow(s)) }
    val n = nations.length.toLong
    val base = (15L * SCALE / 100L) / n
    var rank = nations.map(_ -> SCALE / n).toMap
    for (_ <- 1 to 5) {
      val in = pe.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, pw) => pw * rank(s) / SCALE }.sum
      }
      rank = nations.map(nm => nm -> (base + 85L * in.getOrElse(nm, 0L) / 100L)).toMap
    }
    val got = Analytic.q127.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == nations.toSet)
    assert(got == rank, {
      val diffs = nations.filter(nm => got(nm) != rank(nm))
        .map(nm => s"$nm: ${got(nm)} vs ${rank(nm)}")
      s"fixed-point mismatch (must be BIT-exact): ${diffs.mkString("; ")}"
    })
    // damped rank mass is conserved up to integer-truncation dust
    val mass = got.values.sum
    assert(mass <= SCALE && mass > SCALE - 10000L * n,
      s"rank mass $mass outside the truncation-dust band")
    // the graph must actually discriminate (not a uniform stationary dist)
    assert(got.values.toSet.size > 1, "all ranks equal; fixture graph degenerate")
  }

  test("q128: all-pass on the clean fixture; injected violations counted exactly per rule") {
    val t = Tables(spark, sf0001)
    val clean = Analytic.q128.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(clean.length == 9, s"expected 9 rules, got ${clean.length}")
    assert(clean.forall(r => r._4 == 0L && r._5),
      s"clean fixture must pass every rule: ${clean.filterNot(_._5).mkString(";")}")
    // corrupt targeted copies (fresh negative orderkeys so only the two
    // verbatim duplicates trip the uniqueness rule)
    def freshKeys(df: org.apache.spark.sql.DataFrame, start: Long) =
      df.withColumn("o_orderkey", lit(start) + monotonically_increasing_id())
    val o = t.orders
    val dirtyOrders = o
      .unionByName(freshKeys(o.limit(3), -1000000000L)
        .withColumn("o_custkey", lit(null).cast("long")))
      .unionByName(freshKeys(o.limit(2), -2000000000L)
        .withColumn("o_orderpriority", lit("BOGUS")))
      .unionByName(freshKeys(o.limit(4), -3000000000L)
        .withColumn("o_totalprice", lit(-1.0)))
      .unionByName(freshKeys(o.limit(2), -4000000000L)
        .withColumn("o_custkey", lit(99999999L)))
      .unionByName(o.limit(2)) // verbatim: duplicate keys
    val l = t.lineitem
    val dirtyLine = l
      .unionByName(l.limit(2).withColumn("l_quantity", lit(0.0)))
      .unionByName(l.limit(3).withColumn("l_discount", lit(0.5)))
      .unionByName(l.limit(1).withColumn("l_extendedprice", lit(-5.0)))
      .unionByName(l.limit(2).withColumn("l_orderkey", lit(-7L)))
    val nO = o.count(); val nL = l.count()
    val got = Analytic.dqReport(dirtyOrders, dirtyLine, t.customer).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val expected = Map(
      ("orders", "completeness_custkey") -> ((nO + 13, 3L)),
      ("orders", "domain_orderpriority") -> ((nO + 13, 2L)),
      ("orders", "range_totalprice_positive") -> ((nO + 13, 4L)),
      ("orders", "unique_orderkey") -> ((nO + 13, 2L)),
      // the 3 null custkeys probe nothing and count alongside the 2 dangling
      ("orders", "ref_custkey_in_customer") -> ((nO + 13, 5L)),
      ("lineitem", "range_quantity_1_50") -> ((nL + 8, 2L)),
      ("lineitem", "range_discount_0_10pct") -> ((nL + 8, 3L)),
      ("lineitem", "range_extendedprice_positive") -> ((nL + 8, 1L)),
      ("lineitem", "ref_orderkey_in_orders") -> ((nL + 8, 2L)))
    assert(got == expected, {
      val diffs = (got.keySet ++ expected.keySet).toSeq.sorted
        .filter(k => got.get(k) != expected.get(k))
        .map(k => s"$k: got=${got.get(k)} want=${expected.get(k)}")
      diffs.mkString("; ")
    })
  }

  test("q131: fingerprint is row-order/partitioning-invariant and flips on any single-value change") {
    import spark.implicits._
    val rows = (1L to 500L).map(i => (i, s"name_$i", (i % 7).toInt)).toDF("k", "nm", "g")
    val ser = concat_ws("|", col("k"), col("nm"), col("g"))
    def fp(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = Analytic.tableFingerprint("t", df, ser).collect()(0)
      (r.getLong(1), r.getLong(2))
    }
    val base = fp(rows)
    assert(base._1 == 500L)
    // XOR aggregate: any partitioning / row order reaches the same value
    assert(fp(rows.repartition(13, col("g"))) == base)
    assert(fp(rows.orderBy(col("nm").desc)) == base)
    // sensitivity: one changed value, one dropped row, one duplicated row
    val oneChanged = rows.withColumn("nm",
      when(col("k") === 250L, lit("name_250_CORRUPT")).otherwise(col("nm")))
    assert(fp(oneChanged)._2 != base._2, "changed value must flip the checksum")
    val oneDropped = rows.filter(col("k") =!= 250L)
    assert(fp(oneDropped) != base)
    // XOR pair-cancellation: a duplicated row cancels its own original
    // contribution, leaving exactly the dropped-row checksum — the
    // count is what catches even multiplicities, which is why the
    // fingerprint row carries BOTH
    val oneDuped = rows.unionByName(rows.filter(col("k") === 250L))
    assert(fp(oneDuped)._2 == fp(oneDropped)._2 && fp(oneDuped)._1 == 501L)
    // fixture smoke: three tables, stable fingerprints across two runs
    val a = Analytic.q131.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val b = Analytic.q131.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(a == b && a.map(_._1) == Seq("customer", "lineitem", "orders"))
  }

  test("q134: weighted medians match a naive cumulative-weight scan and differ from unweighted") {
    val rows = Tables(spark, sf0001).lineitem
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect().map(r => (r.getString(0),
        math.round(r.getDouble(1) * 100), math.round(r.getDouble(2))))
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      val sorted = rs.sortBy(_._2)
      val tot = rs.map(_._3).sum
      var cum = 0L
      val med = sorted.find { r => cum += r._3; cum * 2 >= tot }.get._2
      g -> ((med, tot))
    }
    val got = Analytic.q134.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, s"got=$got expected=$expected")
    // the weighting must matter: at least one group's weighted median
    // differs from its plain (unweighted) median of cents
    val plain = rows.groupBy(_._1).map { case (g, rs) =>
      val s = rs.map(_._2).sorted; g -> s((s.length - 1) / 2)
    }
    assert(expected.exists { case (g, (m, _)) => m != plain(g) },
      "weighted ≡ unweighted on every group; fixture exercises nothing")
  }

  test("q135: forecast total equals the executed join's row count; top keys are the true heaviest") {
    val t = Tables(spark, sf0001)
    val actual = t.lineitem.join(t.orders,
      col("l_orderkey") === col("o_orderkey")).count()
    val rows = Analytic.q135.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    val total = rows.find(_._1 == "TOTAL").get
    assert(total._2 == actual,
      s"forecast ${total._2} vs executed join $actual")
    // the TOTAL row carries nk in its OWN column; per-key rows leave it
    // null (and the total row's share_ppm is null — no dual-meaning)
    assert(total._3 == -1L, "TOTAL.share_ppm must be null")
    val nkTrue = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey")).distinct().count()
    assert(total._4 == nkTrue, "TOTAL.n_distinct_keys must be the matched-key count")
    rows.filter(_._1 != "TOTAL").foreach(r =>
      assert(r._4 == -1L, s"per-key n_distinct_keys must be null for ${r._1}"))
    val prof = t.lineitem.groupBy(col("l_orderkey")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // orders keys are unique, so per-key product = lineitem count; the
    // CUT is numeric-tie-broken, the display order string-keyed
    val trueTop = prof.toSeq.sortBy { case (k, c) => (-c, k) }.take(5)
      .sortBy { case (k, c) => (-c, k.toString) }
    val gotTop = rows.filter(_._1 != "TOTAL")
      .map(r => (r._1.toLong, r._2)).toSeq
    assert(gotTop == trueTop, s"got=$gotTop true=$trueTop")
    rows.filter(_._1 != "TOTAL").foreach { r =>
      assert(r._3 == r._2 * 1000000L / actual, s"share_ppm wrong for ${r._1}")
    }
  }

  test("q138: life table matches naive lifetimes; at-risk counts telescope correctly") {
    val acts = Tables(spark, sf0001).events
      .select(col("user_id"), to_date(col("ts")).as("d")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay))
    val lifetimes = acts.groupBy(_._1).map { case (_, ds) =>
      (ds.map(_._2).max - ds.map(_._2).min).toInt }
    val dist = lifetimes.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Analytic.q138.fn(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.map(r => r._1 -> r._2).toMap == dist)
    // n_at_risk telescopes: risk(t) = events(t) + risk(next t)
    got.sliding(2).foreach {
      case Array((_, d, n), (_, _, nNext)) => assert(n == d + nNext)
      case _ =>
    }
    assert(got.last._2 == got.last._3, "last row must have risk == events")
    assert(got.head._3 == lifetimes.size, "first at-risk must be the full cohort")
  }

  test("GlobalCdf: running totals equal a sequential scan; no single-partition window planned") {
    import org.apache.spark.sql.functions.{col => c}
    val spark2 = spark
    import spark2.implicits._
    val rows = (1 to 500).map(i => ((i * 37) % 1000, (i % 5).toLong, (i % 3).toLong))
    val df = rows.toDF("k", "wa", "wb").repartition(7)
    val (out, totals) = GlobalCdf.withRunningTotals(
      df, Seq(c("k").asc), Seq("ca" -> c("wa"), "cb" -> c("wb")))
    val got = out.select(c("k"), c("ca"), c("cb")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    var (sa, sb) = (0L, 0L)
    val expected = rows.sortBy(_._1).map { case (k, wa, wb) =>
      sa += wa; sb += wb; (k, sa, sb) }
    assert(got.toSeq == expected)
    assert(totals == Map("ca" -> rows.map(_._2).sum, "cb" -> rows.map(_._3).sum))
    // the running sums must never plan the banned global-window shape
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LW}
    val globals = out.queryExecution.optimizedPlan.collect {
      case w: LW if w.partitionSpec.isEmpty => w }
    assert(globals.isEmpty, "GlobalCdf planned an empty-partitionBy window")
  }

  test("q141: the KS row matches a naive ECDF sweep exactly") {
    val events = Tables(spark, sf0001).events
      .select(col("value"), dayofmonth(col("ts")).as("dom")).collect()
      .map(r => (r.getDouble(0), r.getInt(1) <= 15))
    val na = events.count(_._2).toLong
    val nb = events.size - na
    val sweep = events.groupBy(_._1).view
      .mapValues(vs => (vs.count(_._2).toLong, vs.count(!_._2).toLong))
      .toSeq.sortBy(_._1)
    var (ca, cb) = (0L, 0L)
    val cum = sweep.map { case (v, (wa, wb)) => ca += wa; cb += wb; (v, ca, cb) }
    val best = cum.maxBy { case (v, a, b) => (math.abs(a * nb - b * na), -v) }
    val r = Analytic.q141.fn(spark, sf0001).collect()(0)
    assert((r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) ==
      ((best._1, best._2, best._3, math.abs(best._2 * nb - best._3 * na), na, nb)),
      s"got row $r, naive best $best (na=$na nb=$nb)")
    val d = math.abs(best._2 * nb - best._3 * na).toDouble / (na.toDouble * nb)
    // the query rounds d_stat to 6 dp
    assert(math.abs(r.getDouble(6) - d) <= 5e-7)
  }

  test("q142: decile rows match a naive sorted cumulative-spend sweep") {
    val spend = Tables(spark, sf0001).orders
      .select(col("o_custkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100)))
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }.toSeq
    val ordered = spend.sortBy { case (k, c) => (-c, k) }
    val n = ordered.size.toLong
    val tot = ordered.map(_._2).sum
    var cum = 0L
    val cumRows = ordered.zipWithIndex.map { case ((_, c), i) =>
      cum += c; (i + 1L, cum) }.toMap
    val expected = (1 to 10).map { k =>
      val b = (k * n + 9) / 10
      (k, b, cumRows(b), cumRows(b) * 1000000L / tot)
    }
    val got = Analytic.q142.fn(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == expected, s"got=${got.toSeq}\nexp=$expected")
    // a concentration curve must be concave-from-above: share gained in
    // the first decile exceeds the last decile's gain
    val firstGain = got.head._4
    val lastGain = got.last._4 - got(8)._4
    assert(firstGain > lastGain, "no concentration visible in the curve")
  }

  test("q143: per-type KS rows match independent naive sweeps") {
    val events = Tables(spark, sf0001).events
      .select(col("event_type"), col("value"), dayofmonth(col("ts")).as("dom"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2) <= 15))
    val expected = events.groupBy(_._1).map { case (t, rows) =>
      val na = rows.count(_._3).toLong
      val nb = rows.size - na
      val sweep = rows.groupBy(_._2).view
        .mapValues(vs => (vs.count(_._3).toLong, vs.count(!_._3).toLong))
        .toSeq.sortBy(_._1)
      var (ca, cb) = (0L, 0L)
      val cum = sweep.map { case (v, (wa, wb)) => ca += wa; cb += wb; (v, ca, cb) }
      val best = cum.maxBy { case (v, a, b) => (math.abs(a * nb - b * na), -v) }
      t -> ((best._1, best._2, best._3, math.abs(best._2 * nb - best._3 * na), na, nb))
    }
    val got = Analytic.q143.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expected, {
      val ks = (got.keySet ++ expected.keySet).filter(k => got.get(k) != expected.get(k))
      ks.map(k => s"$k: got=${got.get(k)} want=${expected.get(k)}").mkString("; ")
    })
    assert(got.size == events.map(_._1).distinct.size)
  }

  test("q141/q143 exact-KS envelope: na·nb < 2^63 at every fixture SF") {
    // The exact integer numerator ca·nb − cb·na requires na·nb < 2⁶³.
    // q141 guards this loudly at runtime (its totals are driver-side);
    // q143's totals are plan-side per-group, so THIS is its guard: a
    // fixture/SF whose split counts breach the envelope fails here with
    // a precise message instead of silently wrapping an argmax.
    Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val counts = Tables(spark, dir).events
        .select(col("event_type"), dayofmonth(col("ts")).as("dom"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("dom") <= 15, 1L).otherwise(0L)).as("na"),
          sum(when(col("dom") <= 15, 0L).otherwise(1L)).as("nb"))
        .collect()
      assert(counts.nonEmpty)
      counts.foreach { r =>
        val (na, nb) = (r.getLong(1), r.getLong(2))
        assert(na.toDouble * nb.toDouble < Long.MaxValue.toDouble,
          s"$dir/${r.getString(0)}: na=$na nb=$nb breaches the exact-KS envelope " +
            "(na*nb must stay < 2^63) — pre-aggregate or subsample before the test")
      }
    }
  }

  test("q145: per-type anchors, lags and trailing-24h volumes match a naive recompute") {
    val events = Tables(spark, sf0001).events
      .select(col("event_type"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byType = events.groupBy(_._1)
    val gmax = events.map(_._2).max
    val expected = byType.map { case (t, rows) =>
      val last = rows.map(_._2).max
      t -> ((last, (gmax - last) / 1000000L, rows.size.toLong,
        rows.count(_._2 > last - 86400000000L).toLong))
    }
    val got = Analytic.q145.fn(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
    // the freshest feed has zero lag; at least one other feed lags
    assert(got.values.exists(_._2 == 0L))
    assert(got.values.exists(_._2 > 0L), "all feeds equally fresh; lag untested")
  }

  test("q122: per-bin PSI contributions match a naive recompute and the -1 row is their sum") {
    val events = Tables(spark, sf0001).events
      .select(col("value"), dayofmonth(col("ts")).as("dom")).collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    val binned = events.map { case (v, d) =>
      (math.min(math.max(math.floor(v / 50.0).toInt, 0), 9), if (d <= 15) "a" else "b")
    }
    val ta = binned.count(_._2 == "a").toDouble
    val tb = binned.count(_._2 == "b").toDouble
    val expected = binned.groupBy(_._1).map { case (bin, rows) =>
      val na = rows.count(_._2 == "a"); val nb = rows.count(_._2 == "b")
      val pa = (na + 1.0) / (ta + 10.0); val pb = (nb + 1.0) / (tb + 10.0)
      bin -> ((na.toLong, nb.toLong, (pa - pb) * math.log(pa / pb)))
    }
    val rows = Analytic.q122.fn(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val perBin = rows.filter(_._1 >= 0)
    assert(perBin.map(_._1).toSet == expected.keySet)
    perBin.foreach { case (bin, na, nb, psi) =>
      val (ena, enb, epsi) = expected(bin)
      assert(na == ena && nb == enb)
      assert(math.abs(psi - epsi) < 1e-5, s"bin $bin psi $psi vs $epsi")
    }
    val total = rows.find(_._1 == -1).get
    assert(math.abs(total._4 - perBin.map(_._4).sum) < 1e-5,
      "total row must equal the sum of per-bin contributions")
    assert(total._2 == perBin.map(_._2).sum && total._3 == perBin.map(_._3).sum)
  }

  test("q156: daily AUC equals the brute-force all-pairs definition; micro-scaling is order-isomorphic") {
    // (a) the micro-scaled long score must be an order-isomorphic
    // substitute for the raw double — distinct counts agree on the
    // purchase/click subset (ties and order both preserved)
    val sub = Tables(spark, sf0001).events
      .filter(col("event_type").isin("purchase", "click"))
      .select(to_date(col("ts")).as("day"), col("value"),
        round(col("value") * 1000000, 0).cast("long").as("score"),
        (col("event_type") === "purchase").as("pos"))
    val dv = sub.select(countDistinct(col("value")),
      countDistinct(col("score"))).collect()(0)
    assert(dv.getLong(0) == dv.getLong(1),
      s"micro-scaling collided ${dv.getLong(0) - dv.getLong(1)} distinct values")
    // (b) AUC = P(s_pos > s_neg) + P(s_pos = s_neg)/2 over all
    // pos×neg pairs, replayed exactly in BigInt ppm per day
    val rows = sub.select(col("day"), col("score"), col("pos")).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getBoolean(2)))
    val expected = rows.groupBy(_._1).flatMap { case (day, rs) =>
      val ps = rs.filter(_._3).map(_._2)
      val ns = rs.filter(!_._3).map(_._2)
      if (ps.isEmpty || ns.isEmpty) None else {
        val u2 = BigInt(ps.iterator.map(p =>
          2L * ns.count(_ < p) + ns.count(_ == p)).sum)
        Some(day -> ((ps.size.toLong, ns.size.toLong,
          (u2 * 1000000 / (BigInt(2) * ps.size * ns.size)).toLong)))
      }
    }
    val got = Analytic.q156.fn(spark, sf0001).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (day, e) =>
      assert(got(day) == e, s"$day: got ${got(day)}, brute-force $e")
    }
    // the metric must actually discriminate somewhere or the fixture
    // tests nothing: not every day exactly 0.5
    assert(expected.values.exists(_._3 != 500000L))
  }

  test("q157: census matches a naive adjacency-set triangle count on the fixture") {
    import scala.collection.mutable
    val li = Tables(spark, sf0001).lineitem
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSet
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, mutable.Set.empty) += v
      adj.getOrElseUpdate(v, mutable.Set.empty) += u
    }
    val triangles = edges.iterator.map { case (u, v) =>
      (adj(u) & adj(v)).size.toLong
    }.sum / 3 // each triangle is seen from each of its 3 edges
    val w2 = adj.valuesIterator.map(s => BigInt(s.size) * (s.size - 1)).sum
    val r = Analytic.q157.fn(spark, sf0001).collect()(0)
    assert(r.getLong(0) == adj.size.toLong, "n_nodes")
    assert(r.getLong(1) == edges.size.toLong, "n_edges")
    assert(r.getLong(2) == (w2 / 2).toLong, "n_wedges")
    assert(r.getLong(3) == triangles, s"n_triangles: got ${r.getLong(3)}, naive $triangles")
    assert(r.getLong(4) == (BigInt(triangles) * 6000000 / w2).toLong, "transitivity_ppm")
    // the fixture graph must actually close triangles or the join path
    // is untested
    assert(triangles > 0, "fixture co-purchase graph is triangle-free")
  }

  test("q159: per-cell PMI and total MI match a naive replay; total is the sum of rounded parts") {
    val rows = Tables(spark, sf0001).events
      .select(col("event_type"),
        pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) + 3, lit(7)))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    val cells = rows.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val nt = cells.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum }
    val nd = cells.groupBy(_._1._2).map { case (d, m) => d -> m.values.sum }
    val tot = cells.values.sum
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = cells.map { case ((t, d), n) =>
      val ratio = ((n * 1.0) * tot) / ((nt(t) * 1.0) * nd(d))
      (t, d) -> ((n, r6(math.log(ratio)), r6((n / (tot * 1.0)) * math.log(ratio))))
    }
    val got = Analytic.q159.fn(spark, sf0001).collect()
    val gotCells = got.filter(_.getString(0) != "__all")
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(gotCells.keySet == expected.keySet)
    expected.foreach { case (k, (n, pmi, part)) =>
      val (gn, gp, gc) = gotCells(k)
      assert(gn == n && math.abs(gp - pmi) < 1e-9 && math.abs(gc - part) < 1e-9,
        s"$k: got ${gotCells(k)}, naive ($n, $pmi, $part)")
    }
    // total row: n = N, MI = sum of the rounded per-cell parts, and
    // positive (the fixture has real type×weekday structure or this
    // tests nothing)
    val totalRow = got.filter(_.getString(0) == "__all")
    assert(totalRow.length == 1 && totalRow(0).getInt(1) == -1)
    assert(totalRow(0).getLong(2) == tot)
    val miSum = r6(expected.values.map(v => BigDecimal(v._3)).sum.toDouble)
    assert(math.abs(totalRow(0).getDouble(4) - miSum) < 1e-9)
    assert(totalRow(0).getDouble(4) > 0.0, "MI must be > 0 on dependent columns")
    assert(totalRow(0).isNullAt(3), "total row carries no PMI")
  }

  test("q157: hand-built cliques — K4 plus a 2-path census is exact") {
    import spark.implicits._
    // order 1 buys parts {1,2,3,4} (a K4: 6 edges, 12 wedges, 4
    // triangles); orders 2 and 3 form the path 10—11—12 (1 wedge, 0
    // triangles). Duplicate lineitems for the same (order, part) must
    // not multiply edges.
    val fake = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L), (1L, 4L),
      (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L))
      .toDF("l_orderkey", "l_partkey")
    val r = Analytic.triangleCensus(fake).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((7L, 8L, 13L, 4L)))
    // 3·4 / 13 wedges = 6e6·4 div 26 = 923076 ppm (truncating divide)
    assert(r.getLong(4) == 923076L)
  }

  test("q163: core membership and in-core degrees match a naive peel on the fixture") {
    import scala.collection.mutable
    val li = Tables(spark, sf0001).lineitem
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSet
    val adj = mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    // the k-core is order-independent, so a simple synchronous peel is
    // a valid ground truth for the distributed one
    var alive = adj.keySet.toSet
    var done = false
    while (!done) {
      val next = alive.filter(n => (adj(n) & alive).size >= Analytic.KCoreK)
      done = next.size == alive.size
      alive = next
    }
    val expected = alive.map(n => n -> (adj(n) & alive).size.toLong).toMap
    val got = Analytic.q163.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // the threshold must really bite at this fixture — a layer peels
    // AND a core survives — or the iteration path is untested
    assert(alive.nonEmpty, "fixture core is empty: KCoreK too high")
    assert(alive.size < adj.size, "nothing peeled: KCoreK too low")
  }

  test("q176: winsorize bounds and clip counts match a naive percentile replay") {
    val rows = Tables(spark, sf0001).events
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def pct(xs: Array[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val i = pos.toInt
      val frac = pos - i
      val raw = if (i + 1 < s.length) s(i) + frac * (s(i + 1) - s(i)) else s(i)
      BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = rows.groupBy(_._1).map { case (t, es) =>
      val vs = es.map(_._2)
      val (lo, hi) = (pct(vs, 0.01), pct(vs, 0.99))
      val nl = vs.count(_ < lo).toLong
      val nh = vs.count(_ > hi).toLong
      t -> ((vs.length.toLong, lo, hi, nl, nh,
        (nl + nh) * 1000000L / vs.length))
    }
    val got = Analytic.q176.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (t, e) => assert(got(t) == e, s"$t: got ${got(t)}, naive $e") }
    // the clamps must clip a real tail on both sides somewhere
    assert(expected.values.exists(v => v._4 > 0 && v._5 > 0))
    assert(expected.values.forall(v => v._6 < 100000L), "clamps clip > 10% - not a tail")
  }

  test("q168: per-node triangles and CC match a naive adjacency replay; corners sum to 3 census triangles") {
    import scala.collection.mutable
    val li = Tables(spark, sf0001).lineitem
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.size) yield (ps(i), ps(j))
    }.toSet
    val adj = mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
    val triAt = adj.map { case (w, ns) =>
      w -> ns.toSeq.map(x => (ns & adj(x)).size.toLong).sum / 2
    }
    val got = Analytic.q168.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(got.keySet == adj.keySet)
    adj.keys.foreach { w =>
      val d = adj(w).size.toLong
      val cc = if (d <= 1) None
               else Some(triAt(w) * 2000000L / (d * (d - 1)))
      assert(got(w) == ((d, triAt(w), cc)),
        s"node $w: got ${got(w)}, naive ($d, ${triAt(w)}, $cc)")
    }
    // corner credits are complete: sum of per-node counts = 3 * census
    val census = Analytic.q157.fn(spark, sf0001).collect()(0).getLong(3)
    assert(got.values.map(_._2).sum == 3 * census, "corner credits lost or doubled")
    // the fixture must have CC diversity or the division is untested
    assert(got.values.flatMap(_._3).toSet.size > 1, "constant CC across fixture")
  }

  test("q166: recency scores match a naive integer-halving replay") {
    val rows = Tables(spark, sf0001).events
      .select(col("user_id"), to_date(col("ts")).cast("string")).collect()
      .map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1))))
    val ref = rows.map(_._2).maxBy(_.toEpochDay)
    val expected = rows.groupBy(_._1).map { case (u, es) =>
      val ws = es.map { case (_, d) =>
        val age = java.time.temporal.ChronoUnit.DAYS.between(d, ref)
        if (age >= 20) 0L else 1000000L >> age
      }
      u -> ((ws.sum, es.length.toLong, es.map(_._2).maxBy(_.toEpochDay).toString))
    }
    val got = Analytic.q166.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDate(3).toString))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (u, e) =>
      assert(got(u) == e, s"user $u: got ${got(u)}, naive $e")
    }
    // the decay must bite at the fixture (events span weeks): users
    // with equal event counts but different recency must score apart
    val byCount = expected.values.groupBy(_._2).filter(_._2.size > 1)
    assert(byCount.exists(_._2.map(_._1).toSet.size > 1),
      "decay never discriminated equal-count users - fixture untested")
  }

  test("q163: hand-built cycle-plus-tail — the peel cascades down the tail") {
    import spark.implicits._
    // Baskets are cliques, so single-pair baskets state edges exactly:
    // a 4-cycle 1-2-3-4-1 with a tail 4-5-6. At k=2 the tail peels in
    // TWO rounds (6 first, then 5 — its degree only drops below k after
    // 6 leaves), the cycle survives with in-core degree 2 everywhere.
    val fake = Seq(
      (10L, 1L), (10L, 2L), (11L, 2L), (11L, 3L), (12L, 3L), (12L, 4L),
      (13L, 4L), (13L, 1L), (14L, 4L), (14L, 5L), (15L, 5L), (15L, 6L))
      .toDF("l_orderkey", "l_partkey")
    val got = Analytic.kCore(fake, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 2L), (4L, 2L)))
    // k above the cycle degree empties the core entirely (the fixpoint
    // must also be reachable at zero rows)
    assert(Analytic.kCore(fake, k = 3).count() == 0L)
  }

  test("q178: deterministic-HLL ranks match a JVM md5 recompute exactly") {
    val daily = Analytic.hllDailyRegisters(spark, sf0001)
    // rebuild every (type, day, bucket) register naively on the driver
    val events = Tables(spark, sf0001).events
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id").cast("string").as("uid"))
      .collect().map(r => (r.getString(0), r.getDate(1), r.getString(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def rank(h: String): Int = {
      val t = h.substring(2, 16).dropWhile(_ == '0')
      if (t.isEmpty) 57
      else (14 - t.length) * 4 + Integer.numberOfLeadingZeros(
        Integer.parseInt(t.substring(0, 1), 16)) - 28 + 1
    }
    val expected = events.map { case (et, day, uid) =>
      val h = md5hex(uid)
      ((et, day, Integer.parseInt(h.substring(0, 2), 16)), rank(h))
    }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val got = daily.collect()
      .map(r => ((r.getString(0), r.getDate(1), r.getInt(2)), r.getInt(3))).toMap
    assert(got == expected,
      s"first diff: ${got.collectFirst { case (k, v) if expected.get(k) != Some(v) => (k, v, expected.get(k)) }}")
  }

  test("q178: daily max-merge equals a direct single-pass register build (union law)") {
    val daily = Analytic.hllDailyRegisters(spark, sf0001)
    val merged = daily.groupBy(col("event_type"), col("bucket"))
      .agg(max(col("m")).as("m")).collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getInt(2))).toMap
    // direct build: same registers computed with no daily page in between
    val direct = Tables(spark, sf0001).events
      .select(col("event_type"), md5(col("user_id").cast("string")).as("h"))
      .withColumn("bucket", expr("CAST(conv(substring(h, 1, 2), 16, 10) AS INT)"))
      .withColumn("t", regexp_replace(expr("substring(h, 3, 14)"), "^0*", ""))
      .withColumn("rank", expr(
        """CASE WHEN t = '' THEN 57 ELSE (14 - length(t)) * 4 +
          CASE substring(t, 1, 1)
            WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
            WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
            ELSE 0 END + 1 END"""))
      .groupBy(col("event_type"), col("bucket")).agg(max(col("rank")).as("m"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getInt(2))).toMap
    assert(merged == direct, "daily-paged union diverged from the single-pass registers")
  }

  test("q178: estimate lands within HLL error of the exact distinct count") {
    val exact = Tables(spark, sf0001).events
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Analytic.q178.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getDouble(4)))
    assert(got.nonEmpty && got.map(_._1).toSet == exact.keySet)
    got.foreach { case (et, days, present, zeros, est) =>
      assert(present + zeros == 256)
      assert(days >= 1)
      val n = exact(et).toDouble
      // raw regime: σ ≈ 1.04/√256 = 6.5% (3σ ≈ 20%); linear-counting
      // regime (n ≪ m) is tighter still — 30% covers both with margin
      assert(est > n * 0.7 && est < n * 1.3,
        s"$et: est $est vs exact $n (present=$present)")
    }
  }

  test("q178: linear-counting values clear the 6-dp rounding boundary (cross-engine ln safety)") {
    // the determinism argument for using ln() across engines: its
    // argument set is exactly {256/z : z ∈ 1..255}, and every resulting
    // estimate sits far enough from a ROUND(·, 6) boundary that a
    // few-ulp libm disagreement (≤ ~1e-12 at these magnitudes) cannot
    // flip the rounded value. Threshold 1e-3 micro-units = 1e-9 abs,
    // ≥ 3 orders of magnitude above any libm spread.
    for (z <- 1 to 255) {
      val scaled = 256.0 * math.log(256.0 / z) * 1e6
      val frac = scaled - math.floor(scaled)
      val distToBoundary = math.abs(frac - 0.5)
      assert(distToBoundary > 1e-3,
        s"zeros=$z: 256·ln(256/$z) lands ${distToBoundary} micro-units from a rounding boundary")
    }
  }

  test("q184 set algebra: union estimate equals a direct union-feed build; exact overlap is exact") {
    val ev = Tables(spark, sf0001).events.select(col("event_type"), col("user_id"))
    val sets: Map[String, Set[Long]] = ev.distinct().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rows = Analytic.q184.fn(spark, sf0001).collect()
    assert(rows.length == sets.size * (sets.size - 1) / 2, "one row per unordered type pair")
    rows.foreach { r =>
      val (t1, t2) = (r.getString(0), r.getString(1))
      val (e1, e2, eu, eo) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      // exact overlap column is the true set intersection
      assert(r.getLong(6) == (sets(t1) & sets(t2)).size.toLong, s"($t1,$t2) exact_both")
      // the register max-merge union must equal estimating A∪B as ONE set
      // (the merge-homomorphism law, applied to the pair)
      val direct = Analytic.hllStatsOf(
        Analytic.hllRegistersOf(
          ev.filter(col("event_type").isin(t1, t2)).withColumn("pk", lit("u")),
          Seq("pk"), "user_id"),
        Seq("pk")).collect()(0).getAs[Double]("est")
      assert(eu == direct, s"($t1,$t2) union estimate diverges from the direct build")
      // inclusion–exclusion, re-rounded exactly as both engines do
      val expected = BigDecimal(e1 + e2 - eu)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(eo == expected, s"($t1,$t2) est_overlap")
    }
  }

  test("q190 CMS: never undercounts ANY key, top-20 matches a driver replay, counters sum-merge") {
    val keys = Tables(spark, sf0001).lineitem
      .select(col("l_partkey"), year(col("l_shipdate")).as("yr"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val exact = keys.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    def bucket(j: Int, k: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"$j:$k".getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(h.take(4), 16)
    }
    // driver CMS replay over the full fixture
    val counters = scala.collection.mutable.Map.empty[(Int, Int), Long]
    exact.foreach { case (k, n) =>
      (0 to 3).foreach { j =>
        val b = (j, bucket(j, k)); counters(b) = counters.getOrElse(b, 0L) + n
      }
    }
    def est(k: Long): Long = (0 to 3).map(j => counters((j, bucket(j, k)))).min
    // CMS one-sided guarantee on EVERY key
    exact.foreach { case (k, n) =>
      assert(est(k) >= n, s"key $k: est ${est(k)} undercounts exact $n")
    }
    // the registered query's top-20 rows equal the replay
    val expected = exact.toSeq.sortBy { case (k, n) => (-n, k) }.take(20)
      .map { case (k, n) => (k, n, est(k), est(k) - n) }
    val got = Analytic.q190.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // merge law: the full-feed counters are the elementwise SUM of
    // per-year counter pages (the property that makes the sketch
    // incrementally maintainable / streamable)
    val byYear = keys.groupBy(_._2).view.mapValues(
      _.groupBy(_._1).view.mapValues(_.length.toLong).toMap).toMap
    val merged = scala.collection.mutable.Map.empty[(Int, Int), Long]
    byYear.values.foreach(_.foreach { case (k, n) =>
      (0 to 3).foreach { j =>
        val b = (j, bucket(j, k)); merged(b) = merged.getOrElse(b, 0L) + n
      }
    })
    assert(merged == counters, "per-year pages do not sum-merge to the full sketch")
  }

  test("q191 multi-feature OLS equals an exact driver-side normal-equations solve") {
    val rows = Tables(spark, sf0001).lineitem
      .select(col("l_returnflag"), col("l_quantity"), col("l_discount"),
        col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    def d2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (flag, rs) =>
      // exact decimal sufficient statistics, like the engines accumulate
      val (x1, x2, y) = (rs.map(r => d2(r._2)), rs.map(r => d2(r._3)), rs.map(r => d2(r._4)))
      val n = rs.length.toDouble
      def s(v: Iterable[BigDecimal]) = v.sum.toDouble
      val (s1, s2, sy) = (s(x1), s(x2), s(y))
      val s11 = s(x1.zip(x1).map { case (a, b) => a * b })
      val s12 = s(x1.zip(x2).map { case (a, b) => a * b })
      val s22 = s(x2.zip(x2).map { case (a, b) => a * b })
      val s1y = s(x1.zip(y).map { case (a, b) => a * b })
      val s2y = s(x2.zip(y).map { case (a, b) => a * b })
      val syy = s(y.zip(y).map { case (a, b) => a * b })
      // the same fixed-shape Cramer expressions as the query
      val cA = s11 * s22 - s12 * s12
      val cB = s1 * s22 - s12 * s2
      val cC = s1 * s12 - s11 * s2
      val det = n * cA - s1 * cB + s2 * cC
      val b0 = (sy * cA - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)) / det
      val b1 = (n * (s1y * s22 - s12 * s2y) - sy * cB + s2 * (s1 * s2y - s1y * s2)) / det
      val b2 = (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * cC) / det
      val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
      val sst = syy - sy * sy / n
      def rnd(x: Double, sc: Int) =
        BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
      // the solve must actually satisfy the normal equations X'X·b = X'y
      // (validates the Cramer expansion itself, not just replay agreement)
      val eq = Seq(
        (n * b0 + s1 * b1 + s2 * b2, sy),
        (s1 * b0 + s11 * b1 + s12 * b2, s1y),
        (s2 * b0 + s12 * b1 + s22 * b2, s2y))
      eq.foreach { case (lhs, rhs) =>
        assert(math.abs(lhs - rhs) <= 1e-9 * math.max(1.0, math.abs(rhs)),
          s"$flag: normal equation violated: $lhs != $rhs")
      }
      (flag, rs.length.toLong, rnd(b0, 4), rnd(b1, 6), rnd(b2, 6), rnd(1.0 - sse / sst, 6))
    }
    val got = Analytic.q191.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected)
    // r2 sane (the synthetic fixture has near-zero cross-column signal,
    // so only the mathematical band is assertable, not a strength floor)
    got.foreach { case (flag, _, _, _, _, r2) =>
      assert(r2 >= 0.0 && r2 <= 1.0, s"$flag: r2 $r2 out of [0, 1]")
    }
  }

  test("q193 quantile sketch: every bin contains the exact quantile, width <= 1/16 relative, bins sum-merge") {
    val rows = Tables(spark, sf0001).lineitem
      .select(col("l_returnflag"), col("l_extendedprice"), year(col("l_shipdate")))
      .collect().map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toLongExact, r.getInt(2)))
    val byFlag = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def exactQ(sorted: Seq[Long], p: Int): Long = sorted((p * sorted.length + 99) / 100 - 1)
    val got = Analytic.q193.fn(spark, sf0001).collect()
    assert(got.map(_.getString(0)).toSeq == byFlag.keys.toSeq.sorted)
    got.foreach { r =>
      val flag = r.getString(0)
      val sorted = byFlag(flag)
      assert(r.getLong(1) == sorted.length.toLong, s"$flag: n")
      Seq((50, 2, 3), (90, 4, 5), (99, 6, 7)).foreach { case (p, iLo, iHi) =>
        val (lo, hi) = (r.getLong(iLo), r.getLong(iHi))
        val truth = exactQ(sorted, p)
        assert(lo <= truth && truth < hi,
          s"$flag p$p: exact $truth outside sketch bin [$lo, $hi)")
        // log-band bins span a (1 + 1/16)x range: relative error <= 6.25%
        assert(hi - lo <= math.max(1L, lo / 16),
          s"$flag p$p: bin [$lo, $hi) wider than 1/16 relative")
      }
    }
    // merge law: per-year (flag, id) count pages sum to the full sketch
    def binId(cents: Long): Long =
      if (cents < 16) cents
      else {
        val b = 63 - java.lang.Long.numberOfLeadingZeros(cents)
        b.toLong * 16 + ((cents >> (b - 4)) - 16)
      }
    val full = rows.groupBy(t => (t._1, binId(t._2))).view.mapValues(_.length.toLong).toMap
    val pages = rows.groupBy(_._3).values.map(
      _.groupBy(t => (t._1, binId(t._2))).view.mapValues(_.length.toLong).toMap)
    val merged = pages.flatten.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(merged == full, "per-year pages do not sum-merge to the full sketch")
  }

  test("q197 column stats: moments equal a driver replay, ndv estimate inside the HLL error band") {
    val rows = Tables(spark, sf0001).lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCol = Map(
      "l_orderkey" -> rows.map(_._1), "l_partkey" -> rows.map(_._2),
      "l_suppkey" -> rows.map(_._3))
    val got = Analytic.q197.fn(spark, sf0001).collect()
    assert(got.map(_.getString(0)).toSeq == byCol.keys.toSeq.sorted)
    got.foreach { r =>
      val vs = byCol(r.getString(0))
      assert(r.getLong(1) == vs.length.toLong, "n_rows")
      assert(r.getLong(2) == 0L, "n_nulls")
      assert(r.getLong(3) == vs.min && r.getLong(4) == vs.max, "min/max")
      val exact = vs.distinct.length.toLong
      assert(r.getLong(5) == exact, "ndv_exact")
      // 256-register HLL standard error is ~6.5%; 3σ band
      val est = r.getDouble(6)
      assert(math.abs(est - exact) <= 0.20 * exact,
        s"${r.getString(0)}: ndv_est $est vs exact $exact outside the error band")
    }
  }

  test("q198 skew advisor equals a driver replay of the frequency histogram math") {
    val rows = Tables(spark, sf0001).lineitem
      .select(col("l_orderkey"), col("l_suppkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = Seq(
      "l_orderkey" -> rows.map(_._1), "l_suppkey" -> rows.map(_._2))
      .map { case (name, ks) =>
        val freq = ks.groupBy(identity).view.mapValues(_.length.toLong).toMap
        val fs = freq.values.toSeq.sorted
        val (nKeys, nRows, maxF) = (fs.length.toLong, fs.sum, fs.max)
        val p99 = fs(((nKeys * 99 + 99) / 100 - 1).toInt)
        (name, nKeys, nRows, maxF, p99,
          maxF * 1000000L / nRows, (maxF * nKeys + nRows - 1) / nRows)
      }.sortBy(_._1)
    val got = Analytic.q198.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected)
    // the advisor must discriminate: the two key columns differ in skew
    // profile on the fixture (orderkey multiplicities are small; suppkey
    // is the hot one), so the salt recommendation is not constant
    assert(got.map(_._7).distinct.length > 1,
      "salt_factor identical across key columns — advisor sees no contrast")
  }

  test("q199 CMS join estimate: equals a driver replay and never undercounts the exact join size") {
    val li = Tables(spark, sf0001).lineitem
      .select(col("l_partkey"), col("l_orderkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = Tables(spark, sf0001).orders
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    def bucket(j: Int, k: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"$j:$k".getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(h.take(4), 16)
    }
    def counters(freq: Map[Long, Long]): Map[(Int, Int), Long] = {
      val m = scala.collection.mutable.Map.empty[(Int, Int), Long]
      freq.foreach { case (k, n) => (0 to 3).foreach { j =>
        val b = (j, bucket(j, k)); m(b) = m.getOrElse(b, 0L) + n } }
      m.toMap
    }
    def ip(a: Map[(Int, Int), Long], b: Map[(Int, Int), Long]): Long =
      (0 to 3).map(j => a.collect { case ((`j`, bk), c) =>
        c * b.getOrElse((j, bk), 0L) }.sum).min
    val fPart = li.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val fOrd = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val fO = nOrders.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cases = Seq(
      ("lineitem*lineitem:partkey", fPart, fPart),
      ("lineitem*orders:orderkey", fOrd, fO))
    val expected = cases.map { case (name, fa, fb) =>
      val exact = fa.map { case (k, n) => n * fb.getOrElse(k, 0L) }.sum
      val est = ip(counters(fa), counters(fb))
      (name, est, exact, (est - exact) * 1000000L / exact)
    }.sortBy(_._1)
    val got = Analytic.q199.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // the inner-product one-sided guarantee
    got.foreach { case (name, est, exact, _) =>
      assert(est >= exact, s"$name: estimate $est undercounts exact $exact")
    }
  }

  test("q202 BFS: known distances on a hand graph, fixture output equals a driver BFS") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a disconnected component {6,7}
    val hand = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("u", "v")
    val two = Analytic.bfsHops(hand, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(two == Seq((1L, 0), (2L, 1), (3L, 2)),
      s"hand-graph 2-hop BFS wrong: $two")
    val four = Analytic.bfsHops(hand, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(four == Seq((1L, 0), (2L, 1), (3L, 2), (4L, 3), (5L, 4)),
      "4-hop BFS must cover the path and never the other component")
    // fixture: distributed frontier BFS == a driver-side BFS replay
    val edges = Analytic.buildCoPurchaseEdges(Tables(spark, sf0001).lineitem)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    edges.foreach { case (u, v) =>
      adj(u) = v :: adj.getOrElse(u, Nil); adj(v) = u :: adj.getOrElse(v, Nil)
    }
    val src = edges.map(_._1).min
    val dist = scala.collection.mutable.Map(src -> 0)
    var frontier = Set(src)
    for (h <- 1 to Analytic.BfsMaxHops) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil))
        .filterNot(dist.contains)
      frontier.foreach(dist(_) = h)
    }
    val expected = dist.toSeq.map { case (n, h) => (n, h) }
      .sortBy { case (n, h) => (h, n) }
    val got = Analytic.q202.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == expected)
  }

  test("q203 split finder equals a brute-force split search and the Gini argmin") {
    val rows = Tables(spark, sf0001).lineitem
      .select(col("l_quantity"), col("l_discount"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    def cents(x: Double): Long =
      BigDecimal(x * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val feats = Seq(
      ("l_discount", rows.map(r => (cents(r._2), r._3))),
      ("l_quantity", rows.map(r => (cents(r._1), r._3))))
    val expected = feats.map { case (name, xs) =>
      val nt = xs.length.toLong
      val pt = xs.map(_._2).sum
      val values = xs.map(_._1).distinct.sorted
      def score(nl: Long, pl: Long): Long =
        (BigInt(pl) * pl * 1000000 / nl
          + BigInt(pt - pl) * (pt - pl) * 1000000 / (nt - nl)).toLong
      // brute force over every candidate split (xc = left-inclusive cut)
      val splits = values.dropRight(1).map { v =>
        val left = xs.filter(_._1 <= v)
        (v, left.length.toLong, left.map(_._2).sum)
      }
      val best = splits.maxBy { case (v, nl, pl) => (score(nl, pl), -v) }
      // cross-check: the p²/n argmax IS the weighted-Gini argmin
      def gini(nl: Long, pl: Long): Double = {
        def g(n: Long, p: Long): Double =
          1.0 - (p.toDouble * p + (n - p).toDouble * (n - p)) / (n.toDouble * n)
        (nl * g(nl, pl) + (nt - nl) * g(nt - nl, pt - pl)) / nt
      }
      val giniBest = splits.minBy { case (v, nl, pl) => (gini(nl, pl), v) }
      assert(giniBest._1 == best._1,
        s"$name: integer-score argmax ${best._1} != Gini argmin ${giniBest._1}")
      val base = (BigInt(pt) * pt * 1000000 / nt).toLong
      (name, best._1, best._2, nt - best._2, best._3, pt - best._3,
        score(best._2, best._3), base, score(best._2, best._3) - base)
    }
    val got = Analytic.q203.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
      .toSeq
    assert(got == expected)
  }

  test("q206 HITS equals an exact integer driver replay; renormalization pins max to 1e9") {
    val t = Tables(spark, sf0001)
    val nat = t.nation.select(col("n_nationkey"), col("n_name")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    val cust = t.customer.select(col("c_custkey"), col("c_nationkey"))
      .collect().map(r => r.getLong(0) -> nat(r.getInt(1))).toMap
    val supp = t.supplier.select(col("s_suppkey"), col("s_nationkey"))
      .collect().map(r => r.getLong(0) -> nat(r.getInt(1))).toMap
    val ordC = t.orders.select(col("o_orderkey"), col("o_custkey"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .collect().map(r => (cust(ordC(r.getLong(0))), supp(r.getLong(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nodes = nat.values.toSeq.sorted
    val S = BigInt(1000000000L)
    var hub = nodes.map(_ -> S).toMap
    var auth = nodes.map(_ -> BigInt(0)).toMap
    for (_ <- 1 to 3) {
      val araw = nodes.map(n => n -> edges.collect {
        case ((s, d), w) if d == n => BigInt(w) * hub(s) }.sum).toMap
      val amax = araw.values.max
      auth = araw.view.mapValues(v => v * S / amax).toMap
      val hraw = nodes.map(n => n -> edges.collect {
        case ((s, d), w) if s == n => BigInt(w) * auth(d) }.sum).toMap
      val hmax = hraw.values.max
      hub = hraw.view.mapValues(v => v * S / hmax).toMap
    }
    val expected = nodes.map(n => (n, hub(n).toLong, auth(n).toLong))
    val got = Analytic.q206.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // max-renormalization invariant: some node sits exactly at 1e9 on
    // each vector, nothing above it
    assert(got.map(_._2).max == 1000000000L && got.map(_._3).max == 1000000000L)
  }

  test("q215 Benford screen equals a driver replay; expectations sum to exactly 1e6") {
    assert(Analytic.BenfordPpm.map(_._2).sum == 1000000L)
    val rows = Tables(spark, sf0001).events
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(_._2 > 0)
    val bf = Analytic.BenfordPpm.toMap
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (tpe, rs) =>
      val digits = rs.map(_._2.toString.head.asDigit)
      val n = digits.length.toLong
      val tvd = (1 to 9).map(d =>
        (BigInt(digits.count(_ == d)) * 1000000 - BigInt(n) * bf(d)).abs).sum /
        (2 * n)
      (1 to 9).map { d =>
        val nd = digits.count(_ == d).toLong
        (tpe, d, nd, nd * 1000000L / n, bf(d), tvd.toLong)
      }
    }.sortBy { case (t, d, _, _, _, _) => (t, d) }
    val got = Analytic.q215.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    // observed shares total ~1e6 per type (exact up to 9 truncations)
    got.groupBy(_._1).values.foreach { rs =>
      val s = rs.map(_._4).sum
      assert(s > 999990L && s <= 1000000L, s"obs_ppm sum $s")
    }
  }

  test("q216 label propagation: known communities on a hand graph, fixture equals a driver replay") {
    import spark.implicits._
    // two triangles joined by one bridge edge — LPA with min-tie floods
    // each triangle from its least id; 3 rounds settle it
    val hand = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L),
      (3L, 4L)).toDF("u", "v")
    val handGot = Analytic.labelPropagation(hand, Analytic.LpaRounds).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // triangle {1,2,3} keeps label 1; triangle {4,5,6} floods from its
    // bridge-adjacent corner toward the smaller labels
    assert(handGot(1L) == handGot(2L) && handGot(2L) == handGot(3L),
      s"first triangle split: $handGot")
    assert(handGot(5L) == handGot(6L), s"far corner pair split: $handGot")
    // chunked adjacency: nodes 3 and 4 have degree 3, so at 2 neighbours
    // per row each splits into two chunk rows — the labels must not move
    val chunkedGot = Analytic.labelPropagation(hand, Analytic.LpaRounds, chunkNbrs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(chunkedGot == handGot, s"chunked adjacency changed the labels: $chunkedGot")
    val chunks = Analytic.lpaAdjacency(hand, 2).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(chunks.forall(_._2.size <= 2), s"chunk row over 2 neighbours: ${chunks.toSeq}")
    assert(chunks.count(_._1 == 3L) == 2 && chunks.count(_._1 == 4L) == 2,
      s"degree-3 nodes not split: ${chunks.toSeq}")
    val handNbrs = hand.collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val chunkNbrs = chunks.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).sorted.toSeq).toMap
    assert(chunkNbrs == handNbrs, s"chunk rows are not the neighbour sets: $chunkNbrs")
    // fixture: distributed rounds == an in-memory synchronous replay
    val edges = Analytic.buildCoPurchaseEdges(Tables(spark, sf0001).lineitem)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    edges.foreach { case (u, v) =>
      adj(u) = v :: adj.getOrElse(u, Nil); adj(v) = u :: adj.getOrElse(v, Nil)
    }
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to Analytic.LpaRounds) {
      lbl = adj.map { case (n, nbrs) =>
        val counts = nbrs.map(lbl).groupBy(identity).view
          .mapValues(_.length).toSeq
        n -> counts.maxBy { case (l, c) => (c, -l) }._1
      }.toMap
    }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = lbl.toSeq.map { case (n, l) => (n, l, sizes(l)) }
      .sortBy(_._1)
    val got = Analytic.q216.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // LPA must actually cluster: far fewer communities than nodes
    assert(sizes.size * 4 < lbl.size, s"${sizes.size} communities over ${lbl.size} nodes")
  }

  test("q219 sketch winsorize: bounds bracket the true percentiles, counts equal a driver replay") {
    val rows = Tables(spark, sf0001).events
      .select(col("event_type"), round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), math.max(0L, r.getLong(1))))
    def binId(v: Long): Long =
      if (v < 16) v
      else {
        val b = 63 - java.lang.Long.numberOfLeadingZeros(v)
        b * 16 + ((v >> (b - 4)) - 16)
      }
    def lo(id: Long): Long =
      if (id < 64) id else (16 + id % 16) << (id / 16 - 4).toInt
    def hi(id: Long): Long =
      if (id < 64) id + 1 else lo(id) + (1L << (id / 16 - 4).toInt)
    val expected = rows.groupBy(_._1).toSeq.map { case (tpe, rs) =>
      val vs = rs.map(_._2).sorted
      val n = vs.length.toLong
      val ids = vs.map(binId).sorted
      def pick(p: Int): Long = ids(((n * p + 99) / 100 - 1).toInt)
      val (l, h) = (lo(pick(1)), hi(pick(99)))
      (tpe, n, l, h, vs.count(_ < l).toLong, vs.count(_ > h).toLong,
        (BigInt(vs.count(_ < l) + vs.count(_ > h)) * 1000000 / n).toLong)
    }.sortBy(_._1)
    val got = Analytic.q219.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected)
    // the sketch guarantee: the picked bin BRACKETS the true rank value
    rows.groupBy(_._1).foreach { case (tpe, rs) =>
      val vs = rs.map(_._2).sorted
      val n = vs.length.toLong
      val g = got.find(_._1 == tpe).get
      val true01 = vs(((n * 1 + 99) / 100 - 1).toInt)
      val true99 = vs(((n * 99 + 99) / 100 - 1).toInt)
      assert(g._3 <= true01, s"$tpe: lo ${g._3} above true p01 $true01")
      assert(g._4 > true99, s"$tpe: hi ${g._4} not above true p99 $true99")
    }
  }

  test("q207 CUSUM equals a driver replay over the zero-filled daily series") {
    val evs = Tables(spark, sf0001).events
      .select(col("event_type"), to_date(col("ts")))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate))
    val d0 = evs.map(_._2).min(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val d1 = evs.map(_._2).max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val days = (d0.toEpochDay to d1.toEpochDay).map(java.time.LocalDate.ofEpochDay)
    val expected = evs.groupBy(_._1).toSeq.map { case (tpe, es) =>
      val byDay = es.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val series = days.map(d => byDay.getOrElse(d, 0L))
      val tot = series.sum
      val dCount = days.length.toLong
      val cums = series.scanLeft(0L)(_ + _).drop(1)
      val ss = cums.zipWithIndex.map { case (cum, i) =>
        (dCount * cum - (i + 1) * tot, days(i))
      }
      val best = ss.maxBy { case (s, day) => (s.abs, -day.toEpochDay) }
      (tpe, java.sql.Date.valueOf(best._2), best._1.abs, tot, dCount,
        (BigInt(best._1.abs) * 1000000 / (BigInt(tot) * dCount)).toLong)
    }.sortBy(_._1)
    val got = Analytic.q207.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
  }

  test("q208 Spearman equals a midrank driver replay and detects the price~quantity monotonicity") {
    val rows = Tables(spark, sf0001).lineitem
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    def cents(x: Double): Long =
      BigDecimal(x * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expected = rows.groupBy(_._1).toSeq.map { case (g, rs) =>
      val xs = rs.map(r => cents(r._2)); val ys = rs.map(r => cents(r._3))
      def midrank2(vs: Array[Long]): Map[Long, Long] = {
        val cnt = vs.groupBy(identity).view.mapValues(_.length.toLong).toMap
        val sorted = cnt.keys.toSeq.sorted
        var below = 0L
        sorted.map { v =>
          val c = cnt(v); val r = 2 * below + c + 1; below += c; v -> r
        }.toMap
      }
      val (mx, my) = (midrank2(xs), midrank2(ys))
      val rx = xs.map(mx); val ry = ys.map(my)
      val n = rs.length.toDouble
      def d(b: BigInt): Double = BigDecimal(b).toDouble
      val (sx, sy) = (d(rx.map(BigInt(_)).sum), d(ry.map(BigInt(_)).sum))
      val sxx = d(rx.map(v => BigInt(v) * v).sum)
      val syy = d(ry.map(v => BigInt(v) * v).sum)
      val sxy = d(rx.zip(ry).map { case (a, b) => BigInt(a) * b }.sum)
      val rho = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      (g, rs.length.toLong,
        BigDecimal(rho).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    val got = Analytic.q208.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected)
    // midrank invariant: Σ midrank2 over the rows of a group is exactly
    // n(n+1) — twice the sum of ranks 1..n — however the ties fall
    rows.groupBy(_._1).foreach { case (g, rs) =>
      val xs = rs.map(r => cents(r._2))
      val cnt = xs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val sorted = cnt.keys.toSeq.sorted
      var below = 0L
      val mr = sorted.map { v =>
        val c = cnt(v); val r = 2 * below + c + 1; below += c; v -> r
      }.toMap
      val n = rs.length.toLong
      assert(xs.map(mr).sum == n * (n + 1), s"group $g: midrank2 sum broken")
    }
    got.foreach { case (g, _, rho) =>
      assert(rho.abs <= 1.0, s"group $g: rho $rho outside [-1, 1]")
    }
  }

  test("q223 KS drift equals a driver replay; D in [0, 1e6]; argmax ties to smallest cent") {
    val evs = Tables(spark, sf0001).events
      .select(col("event_type"),
        round(col("value") * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val all = evs.map(_._2)
    val vals = all.distinct.sorted
    val nAll = all.length.toLong
    def cdfCounts(xs: Seq[Long]): Map[Long, Long] = {
      // count of xs ≤ v for each grid value v
      val cnt = xs.groupBy(identity).view.mapValues(_.length.toLong).toMap
      var below = 0L
      vals.map { v => below += cnt.getOrElse(v, 0L); v -> below }.toMap
    }
    val fAll = cdfCounts(all)
    val expected = evs.groupBy(_._1).toSeq.map { case (tpe, es) =>
      val xs = es.map(_._2)
      val nG = xs.length.toLong
      val fG = cdfCounts(xs)
      val best = vals.map { v =>
        ((BigInt(fG(v)) * nAll - BigInt(fAll(v)) * nG).abs, v)
      }.maxBy { case (d, v) => (d, -v) }
      (tpe, nG, (best._1 * 1000000 / (BigInt(nG) * nAll)).toLong, best._2)
    }.sortBy(_._1)
    val got = Analytic.q223.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    got.foreach { case (t, _, d, _) =>
      assert(d >= 0 && d <= 1000000, s"$t: D $d outside [0, 1e6] ppm") }
  }

  test("q223 KS: a type identical to the corpus scores 0; a disjoint one scores near 1e6") {
    // property on the same integer math the query uses, via a replay of
    // the cross-multiplied comparison on a hand distribution
    def ks(a: Seq[Long], b: Seq[Long]): Long = {
      val vals = (a ++ b).distinct.sorted
      def cum(xs: Seq[Long]) = {
        val c = xs.groupBy(identity).view.mapValues(_.length.toLong).toMap
        var s = 0L; vals.map { v => s += c.getOrElse(v, 0L); v -> s }.toMap
      }
      val (ca, cb) = (cum(a), cum(b))
      vals.map(v => (BigInt(ca(v)) * b.length - BigInt(cb(v)) * a.length).abs)
        .max.toLong * 1000000L / (a.length.toLong * b.length)
    }
    val base = Seq(1L, 2L, 3L, 4L, 5L)
    assert(ks(base, base) == 0L)
    assert(ks(Seq(1L, 2L), Seq(100L, 200L)) == 1000000L)
  }

  test("q233 CUPED: exact driver replay + the mean-conservation law") {
    import org.apache.spark.sql.functions._
    val rows = Analytic.q233.fn(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.map(_._1).toSeq == Seq(0, 1))
    // driver replay off the canonical events table
    val evs = graft.Tables(spark, sf0001).events
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val day0 = evs.map(_._2).min
    val perUser = evs.groupBy(_._1).map { case (u, es) =>
      val x = es.filter(_._2 < day0 + 15).map(_._3).sum
      val y = es.filter(_._2 >= day0 + 15).map(_._3).sum
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      val bucket = Integer.parseInt(hex, 16)
      (u, x, y, bucket % 2)
    }.toSeq
    val n = perUser.size.toLong
    val (sx, sy) = (perUser.map(_._2).sum, perUser.map(_._3).sum)
    val sxy = perUser.map(p => BigInt(p._2) * p._3).sum
    val sxx = perUser.map(p => BigInt(p._2) * p._2).sum
    val a = (BigInt(n) * sxy - BigInt(sx) * sy).toDouble
    val b = (BigInt(n) * sxx - BigInt(sx) * sx).toDouble
    assert(b > 0, "fixture pre-period must have variance")
    val theta = a / b
    def rnd(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = perUser.groupBy(_._4).map { case (v, us) =>
      val (nv, sxv, syv) = (us.size.toLong, us.map(_._2).sum, us.map(_._3).sum)
      val meanPost = syv.toDouble / nv
      val adj = meanPost - theta * (sxv.toDouble / nv - sx.toDouble / n)
      (v, nv, sxv, syv, rnd(theta), rnd(meanPost), rnd(adj))
    }.toSet
    assert(rows.toSet == expect, "CUPED table diverges from replay")
    // conservation: Σ(x−x̄) = 0 pooled, so the user-weighted adjusted
    // means reproduce the raw post total — CUPED shifts variance
    // between variants, never invents spend
    val weighted = rows.map(r => r._2 * r._7).sum
    assert(math.abs(weighted - sy.toDouble) / sy.toDouble < 1e-6,
      s"adjusted means do not conserve the post total: $weighted vs $sy")
  }

  test("view_copurchase_support builds in at most 4 Spark jobs with its deps warm") {
    // a first build warms the lineitem load; the view reads no other
    // view. On sf0.001 the build runs 4 jobs (its AQE query stages,
    // then the checkpoint); a second basket expansion shows here
    Analytic.coPurchaseSupport(spark, sf0001).count()
    Analytic.coPurchaseSupport.invalidate(spark, sf0001)
    // eager: the view is a checkpoint
    val jobs = jobsDuring(Analytic.coPurchaseSupport(spark, sf0001))
    assert(Analytic.coPurchaseSupport(spark, sf0001).count() > 0)
    assert(jobs <= 4, s"the co-purchase support build ran $jobs Spark jobs, expected at most 4")
  }
}
