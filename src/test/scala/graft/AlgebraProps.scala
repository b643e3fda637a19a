package graft

import graft.operators.AsOf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Algebraic laws of the engine's operators, checked on generated data
  * (SURVEY.md §5.3). Small literal DataFrames, fixed minSuccessful to keep
  * the Spark-job count bounded. */
object AlgebraProps extends Properties("Algebra") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  lazy val spark: SparkSession = SparkTestBase.session()

  private def df(rows: List[(Long, Double)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "v")
  }

  private val genRows: Gen[List[(Long, Double)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(-100.0, 100.0)))
  private val genRowsNE: Gen[List[(Long, Double)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(-100.0, 100.0)))

  property("union preserves multiset cardinality") =
    forAll(genRows, genRows) { (a, b) =>
      df(a).union(df(b)).count() == a.length + b.length
    }

  property("filter commutes with projection") =
    forAll(genRows) { rows =>
      val d = df(rows)
      val l = d.filter(col("v") > 0).select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
      val r = d.select(col("k"), col("v")).filter(col("v") > 0)
        .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
      l == r
    }

  property("dropDuplicates is idempotent") =
    forAll(genRows) { rows =>
      val d = df(rows)
      d.dropDuplicates("k").count() == d.dropDuplicates("k").dropDuplicates("k").count()
    }

  property("semi ⊎ anti partitions the left side") =
    forAll(genRows, genRows) { (a, b) =>
      val l = df(a)
      val r = df(b).select(col("k").as("rk"))
      val semi = l.join(r, col("k") === col("rk"), "left_semi").count()
      val anti = l.join(r, col("k") === col("rk"), "left_anti").count()
      semi + anti == a.length
    }

  property("window top-1 over one group equals global sort-limit") =
    forAll(genRowsNE) { rows =>
      val d = df(rows)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).orderBy(col("v").desc, col("k"))
      val top = d.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("k"), col("v")).collect()(0)
      val srt = d.orderBy(col("v").desc, col("k")).limit(1).collect()(0)
      top.getLong(0) == srt.getLong(0) && top.getDouble(1) == srt.getDouble(1)
    }

  property("Det.dsum equals the exact rational sum for 2-decimal inputs") =
    forAll(Gen.listOf(Gen.chooseNum(-1000000, 1000000))) { cents =>
      val s = spark
      import s.implicits._
      val d = cents.map(_ / 100.0).toDF("v")
      val got = d.agg(Det.dsum(col("v"))).collect()(0)
      val expected = (BigDecimal(cents.sum) / 100).toDouble
      if (cents.isEmpty) got.isNullAt(0)
      else got.getDouble(0) == expected
    }

  property("prefix+positional filtering is lossless vs naive all-pairs Jaccard") =
    forAll(
      Gen.nonEmptyListOf(
        Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e", "f"))
          .map(_.take(12)))
        .map(_.take(25)),
      // taus beyond the dyadic 1/2 the queries use: non-dyadic fractions
      // (1/3, 7/10) and 1/10 (whose double product rounds UP on sz
      // multiples of 10 — the exact shape that broke the double-ceil
      // prefix bound) all must stay lossless
      Gen.oneOf((1, 2), (1, 3), (7, 10), (1, 10))) { (texts, tau) =>
      // tiny alphabet + short docs → dense shingle collisions, exercising
      // the ceil/positional boundaries the fixtures never hit
      val s = spark
      import s.implicits._
      val (tn, td) = tau
      val docs = texts.zipWithIndex
        .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val naive = operators.Dedup.jaccardPairs(operators.Dedup.shingles(docs))
        .filter(operators.Dedup.atLeastJaccard(tn, td))
        .select(col("d1"), col("d2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hshArr = operators.Dedup.hashedShingleArray(docs)
      val fast = operators.Dedup.jaccardForCandidates(
          operators.Dedup.prefixCandidates(hshArr, tn, td), hshArr)
        .filter(operators.Dedup.atLeastJaccard(tn, td))
        .select(col("d1"), col("d2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      fast == naive
    }

  property("chunk dedup: kept occurrences = distinct chunk texts, on any corpus") =
    forAll(
      Gen.nonEmptyListOf(
        Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c"))
          .map(_.take(20)))
        .map(_.take(20))) { texts =>
      // tiny alphabet → heavy cross-doc chunk repetition; doc lengths hit
      // the 8-token boundary (exact multiples, shorter and longer)
      val s = spark
      import s.implicits._
      val docs = texts.zipWithIndex
        .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      // q68's engine applied to a literal frame (same native expression):
      // grouping by chunk HASH must partition identically to grouping by
      // chunk STRING (the naive side below) on any corpus
      val chunks = docs.select(col("doc_id"),
        posexplode(call_function("graft_chunk_hashes",
          split(col("text"), " "), lit(8))).as(Seq("pos", "chunk")))
      val rn = row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("chunk")).orderBy(col("doc_id"), col("pos")))
      val kept = chunks.withColumn("rn", rn).filter(col("rn") === 1).count()
      val naive = texts.zipWithIndex.flatMap { case (toks, _) =>
        toks.grouped(8).map(_.mkString(" ")) }
      kept == naive.distinct.length.toLong
    }

  property("graft_array_stats equals the composed explode+groupBy profile") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 6L)).map(_.take(30))) { xs =>
      val s = spark
      import s.implicits._
      val d = Seq(Tuple1(xs)).toDF("arr")
      val st = d.select(call_function("graft_array_stats", col("arr")).as("s"))
        .select(col("s.n"), col("s.n_distinct"), col("s.top_count"))
        .collect()(0)
      val counts = xs.groupBy(identity).map(_._2.size)
      st.getLong(0) == xs.length.toLong &&
        st.getLong(1) == counts.size.toLong &&
        st.getLong(2) == counts.max.toLong
    }

  property("graft_top_k equals sort-take-k ground truth under any partitioning") = {
    val genTopK: Gen[List[(Long, Double, Long, Long)]] =
      Gen.nonEmptyListOf(Gen.zip(
        Gen.chooseNum(0L, 4L), Gen.chooseNum(-10.0, 10.0),
        Gen.chooseNum(0L, 30L), Gen.chooseNum(0L, 30L)))
    forAll(genTopK, Gen.chooseNum(1, 5)) { (rows, k) =>
      val s = spark
      import s.implicits._
      def topk(parts: Int): Map[Long, List[(Double, Long, Long)]] =
        rows.toDF("g", "v", "a", "b").repartition(parts)
          .groupBy(col("g"))
          .agg(call_function("graft_top_k",
            col("v"), col("a"), col("b"), lit(k)).as("t"))
          .collect().map { r =>
            r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
              .map(x => (x.getDouble(0), x.getLong(1), x.getLong(2))).toList
          }.toMap
      val truth = rows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(t => (t._2, t._3, t._4))
          .sortBy { case (sc, a, b) => (-sc, a, b) }.take(k)
      }
      // correct vs ground truth, and identical across partitionings
      // (merge-order independence of the bounded buffer)
      topk(1) == truth && topk(7) == truth
    }
  }

  property("GlobalRank equals the single-partition global row_number on any data") =
    forAll(genRowsNE) { rows =>
      // duplicate (v, k) rows are possible — the two forms may then swap
      // ranks among identical rows, so compare the sorted (v, k, rk)
      // multiset, which is invariant under those swaps
      val d = df(rows)
      val (ranked, n) = operators.GlobalRank.withRowNumber(
        d, Seq(col("v"), col("k")), "rk")
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("k"))
      val truth = d.withColumn("rk", row_number().over(w).cast("long"))
        .collect().map(r => (r.getDouble(1), r.getLong(0), r.getLong(2))).sorted.toSeq
      val got = ranked.select(col("v"), col("k"), col("rk"))
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      n == rows.length && got == truth
    }

  property("GlobalRank family equals Spark's rank/dense_rank/percent_rank/cume_dist on any data") =
    forAll(genRowsNE) { rows =>
      // rank over v DESC with deliberate ties (keys 0..20 repeat); k is
      // only the row_number tie-break — the four family outputs must be
      // tie-break-independent, so they are compared per (v, k) exactly
      val d = df(rows)
      val (fam, n) = operators.GlobalRank.withRankFamily(
        d, Seq(col("v").desc), Seq(col("v")), Seq(col("k")))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v").desc)
      val truth = d
        .withColumn("rank", rank().over(w).cast("long"))
        .withColumn("dense_rank", dense_rank().over(w).cast("long"))
        .withColumn("percent_rank", percent_rank().over(w))
        .withColumn("cume_dist", cume_dist().over(w))
        .collect()
        .map(r => (r.getDouble(1), r.getLong(0)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
        .sorted.toSeq
      val got = fam.select(col("v"), col("k"), col("rank"), col("dense_rank"),
          col("percent_rank"), col("cume_dist"))
        .collect()
        .map(r => (r.getDouble(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
        .sorted.toSeq
      n == rows.length && got == truth
    }

  property("as-of join preserves every left row") =
    forAll(genRowsNE, genRows) { (a, b) =>
      val s = spark
      import s.implicits._
      val left = a.zipWithIndex
        .map { case ((k, v), i) => (k % 3, new java.sql.Timestamp(1700000000000L + i * 1000), v) }
        .toDF("key", "t", "v")
      val right = b.zipWithIndex
        .map { case ((k, v), i) => (k % 3, new java.sql.Timestamp(1700000000000L + i * 500), v, i.toLong) }
        .toDF("key", "rt", "rv", "rid")
      AsOf.backward(left, right, "key", "key", "t", "rt",
        payload = Seq("rv"), tieR = "rid").count() == a.length
    }

  // ---- first-fit-decreasing compaction (q140's driver fold): the bin
  // assignment must cover every file exactly once, respect the residual
  // capacity of every multi-file bin, and meet the volume lower bound —
  // on ANY manifest, not just the fixture's.
  private val genManifest: Gen[List[(String, Long)]] =
    Gen.nonEmptyListOf(Gen.chooseNum(1L, 500L)).map(_.zipWithIndex
      .map { case (sz, i) => (f"f$i%03d", sz) })

  property("FFD plan covers all files, respects capacity, meets the bin lower bound") =
    forAll(genManifest, Gen.chooseNum(1L, 800L)) { (files0, target) =>
      val files = files0.sortBy { case (n, sz) => (-sz, n) }
      val plan = graft.operators.Layout.ffdPlan(files, target)
      val coverage = plan.map(p => (p._1, p._2)).sorted == files.sorted
      val capacity = plan.groupBy(_._3).forall { case (_, fs) =>
        fs.length == 1 || fs.map(_._2).sum <= target
      }
      val total = files.map(_._2).sum
      val nBins = plan.map(_._3).distinct.length
      // lower bound holds unless singleton oversized files force extras
      val oversized = files.count(_._2 > target)
      val lower = nBins >= ((total + target - 1) / target).toInt ||
        oversized > 0
      coverage && capacity && lower
    }

  // ---- int8 quantization (q151's per-component law): |q| ≤ 127 always,
  // q = 0 iff the component rounds to 0 at full scale, and the
  // dequantization error is within one quantization step — for ANY
  // micro-scaled component and scale.
  // ---- water-filling (q167's allocation laws) on generated avail
  // profiles, driven through the PRODUCTION waterFill frame pipeline:
  // the budget is spent exactly, no group exceeds its cap, clipped
  // groups share the level ±1, and max-min holds (no fully funded
  // group exceeds any clipped allocation). `fully_funded` is the
  // algorithm's PREFIX flag (group inside the maximal feasible prefix),
  // so it implies alloc == avail but NOT conversely: the +1 remainder
  // can top a CLIPPED group exactly to its cap when L+1 equals the
  // smallest unfunded avail (minimal case avails = (1, 1): B = 1,
  // k = 0, L = 0, r = 1 → allocations (1, 0), both flagged clipped —
  // the round-17 ScalaCheck counterexample that falsified the old
  // iff-shaped law on perfectly correct output).
  private val genAvail: Gen[List[Long]] =
    Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 10000L)))
  private def waterFillLaws(avails: List[Long]): Boolean = {
    val s = spark
    import s.implicits._
    val src = avails.zipWithIndex
      .map { case (a, i) => (f"l$i%02d", a) }.toDF("lang", "avail")
    val out = graft.operators.Curation.waterFill(src).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val b = avails.sum * 4 / 5
    val spend = out.map(_._3).sum == b
    val caps = out.forall(o => o._3 <= o._2 && o._3 >= 0)
    val flags = out.forall(o => o._4 == 0 || o._3 == o._2)
    val clipped = out.filter(_._4 == 0).map(_._3)
    val level = clipped.isEmpty || clipped.max - clipped.min <= 1
    val funded = out.filter(_._4 == 1).map(_._3)
    val maxmin = clipped.isEmpty || funded.isEmpty || funded.max <= clipped.min
    spend && caps && flags && level && maxmin
  }
  property("water-fill: exact spend, caps, level sharing, max-min order") =
    forAll(genAvail)(waterFillLaws)
  property("water-fill: remainder-topped-to-cap edge (avails 1,1) satisfies the laws") =
    waterFillLaws(List(1L, 1L))

  // ---- delta-join maintenance (q164's rewrite) on generated dated
  // frames, driven through the PRODUCTION deltaJoinContribFrames: the
  // old-partials ∪ delta-terms merge must equal the full O⋈L recompute
  // on ANY orders/lineitem shape — orphan lineitems, childless orders,
  // empty old halves, multi-line orders, ties on the delta days.
  private val genDay: Gen[Int] = Gen.chooseNum(1, 5)
  private val genOrders: Gen[List[(Long, Int, String)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 8L), genDay,
      Gen.oneOf("1-URGENT", "3-MEDIUM", "5-LOW")))
      .map(_.distinctBy(_._1)) // one row per order key
  private val genLines: Gen[List[(Long, Int, String, Double, Double)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 10L), genDay, Gen.oneOf("A", "N", "R"),
      Gen.chooseNum(1.0, 999.0).map(v => math.rint(v * 100) / 100),
      Gen.oneOf(0.0, 0.05, 0.1)))
  property("delta-join rewrite: old partials + delta terms = full O JOIN L recompute") =
    forAll(genOrders, genLines) { (os, ls) =>
      val s = spark
      import s.implicits._
      val o = os.toDF("o_orderkey", "d", "o_orderpriority")
        .select(col("o_orderkey"),
          expr("date_add(DATE '2024-01-01', d)").as("o_day"),
          col("o_orderpriority"))
      val l = ls.toDF("l_orderkey", "d", "l_returnflag", "l_extendedprice", "l_discount")
        .select(col("l_orderkey"),
          expr("date_add(DATE '2024-01-01', d)").as("l_day"),
          col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
      val dO = "2024-01-0" + (os.map(_._2).max + 1)
      val dL = "2024-01-0" + (if (ls.isEmpty) 2 else ls.map(_._2).max + 1)
      def fin(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderpriority"), col("l_returnflag"))
          .agg(sum(col("n_lines")).as("n"), sum(col("rev_dec")).cast("double").as("rev"))
          .collect().map(r => (r.getString(0), r.getString(1)) ->
            ((r.getLong(2), r.getDouble(3)))).toMap
      val vOld = graft.operators.Partitioned.viewPartial(
        o.filter(col("o_day") < lit(dO).cast("date")),
        l.filter(col("l_day") < lit(dL).cast("date")))
      val merged = fin(vOld.unionByName(
        graft.operators.Partitioned.deltaJoinContribFrames(o, l, dO, dL)))
      val full = fin(graft.operators.Partitioned.viewPartial(o, l))
      merged == full
    }

  // ---- retraction algebra (q170's merge + dirty-group rescan) on
  // generated corpora, driven through the PRODUCTION
  // retractableOldFrames: for ANY base history, landed partials and
  // purge list — including users owning whole groups (group vanishes),
  // retracted values tying a bound a survivor shares (dirty rescan must
  // return the same bound), and untouched groups — the maintained view
  // equals the survivors' recompute.
  private val genEvents: Gen[List[(Long, Int, String, Double)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 6L), Gen.chooseNum(1, 4),
      Gen.oneOf("click", "view"),
      // coarse values make bound TIES likely — the interesting case
      Gen.oneOf(1.0, 2.0, 3.0, 4.0)))
  property("retraction merge + dirty rescan = survivors' recompute on any corpus") =
    forAll(genEvents, Gen.someOf(0L to 6L)) { (evs, purgedIds) =>
      val s = spark
      import s.implicits._
      val base = evs.toDF("user_id", "d", "event_type", "value")
        .select(col("user_id"),
          expr("date_add(DATE '2024-01-01', d)").as("day"),
          col("event_type"), col("value"))
      val dec = org.apache.spark.sql.types.DecimalType(18, 6)
      val state = base.groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(dec)).as("sum_value_dec"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      val purged = purgedIds.toSeq.toDF("user_id")
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getDate(0).toString, r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
      val maintained = key(
        graft.operators.Partitioned.retractableOldFrames(base, state, purged)
          .select(col("day"), col("event_type"), col("n_events"),
            col("sum_value"), col("min_value"), col("max_value")))
      val full = key(
        base.join(purged, Seq("user_id"), "left_anti")
          .groupBy(col("day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(dec)).cast("double").as("sum_value"),
            min(col("value")).as("min_value"), max(col("value")).as("max_value")))
      maintained == full
    }

  // ---- k-core (q163's peel) on generated graphs, driven through the
  // PRODUCTION kCoreOnEdges delta peel: membership and in-core degrees
  // equal the order-independent naive peel on any edge set.
  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0L, 11L)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct)
      .suchThat(_.nonEmpty)
  property("k-core delta peel equals the naive synchronous peel on any graph") =
    forAll(genEdges, Gen.chooseNum(2, 4)) { (edges, k) =>
      val s = spark
      import s.implicits._
      val df = graft.Materialize.cut(edges.toDF("u", "v"))
      val got = graft.operators.Analytic.kCoreOnEdges(df, k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
        .withDefaultValue(Set.empty)
      edges.foreach { case (u, v) => adj(u) += v; adj(v) += u }
      var alive = adj.keySet.toSet
      var done = false
      while (!done) {
        val next = alive.filter(n => (adj(n) & alive).size >= k)
        done = next.size == alive.size
        alive = next
      }
      got == alive.map(n => n -> (adj(n) & alive).size.toLong).toMap
    }

  property("int8 quantize: bounded, sign-preserving, error within one step") =
    forAll(Gen.chooseNum(-3000000000L, 3000000000L),
      Gen.chooseNum(1L, 3000000000L)) { (vi0, maxabs) =>
      val vi = math.max(-maxabs, math.min(maxabs, vi0)) // |vi| ≤ scale by construction
      val q = math.signum(vi) * (math.abs(vi) * 127 / maxabs)
      val recon = math.signum(q) * (math.abs(q) * maxabs / 127)
      math.abs(q) <= 127 &&
        math.signum(q) * math.signum(vi) >= 0 &&
        math.abs(vi - recon) <= maxabs / 127 + 1
    }

  // ---- q178 deterministic HLL: the merge-homomorphism law -------------
  // registers are a pure function of the input SET, and the union of any
  // page partition is the single-pass register table — on ANY corpus,
  // ANY page assignment, WITH duplicates. This is what makes the daily
  // pages safe to backfill/replay in any order.
  private val genKeyed: Gen[List[(Int, Long)]] = // (page, key) with dup keys likely
    Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0L, 40L)))

  property("HLL register pages max-merge to the single-pass registers on any partition") =
    forAll(genKeyed) { rows =>
      val s = spark
      import s.implicits._
      val df = rows.toDF("page", "key")
      val paged = graft.operators.Analytic
        .hllRegistersOf(df, Seq("page"), "key")
        .groupBy(col("bucket")).agg(max(col("m")).as("m"))
        .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      val direct = graft.operators.Analytic
        .hllRegistersOf(df.select(lit(0).as("g"), col("key")), Seq("g"), "key")
        .collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
      paged == direct
    }

  property("HLL registers are a set function: duplicates and order never move them") =
    forAll(genKeyed) { rows =>
      val s = spark
      import s.implicits._
      def regs(l: List[(Int, Long)]) = graft.operators.Analytic
        .hllRegistersOf(l.toDF("page", "key").select(lit(0).as("g"), col("key")),
          Seq("g"), "key")
        .collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
      regs(rows) == regs(scala.util.Random.shuffle(rows ++ rows))
    }

  // ---- Schedule: cron interval arithmetic laws -------------------------
  private val genCron: Gen[String] = for {
    m <- Gen.oneOf("0", "30", "*/20", "5,35")
    h <- Gen.oneOf("*", "3", "0-5", "*/6")
    dow <- Gen.oneOf("*", "1-5", "0", "3,6")
  } yield s"$m $h * * $dow"

  private val genZone: Gen[String] =
    Gen.oneOf("UTC", "Asia/Seoul", "America/New_York")

  property("Schedule.firesBetween: strictly increasing, in (start, until], field-matching") =
    forAll(genCron, genZone, Gen.chooseNum(0L, 200L)) { (cron, tz, dayOff) =>
      import java.time.Instant
      val sch = graft.pipeline.Schedule(cron, tz)
      val start = Instant.parse("2024-01-01T00:00:00Z").plusSeconds(dayOff * 86400)
      val until = start.plusSeconds(10 * 86400)
      val fires = sch.firesBetween(start, until)
      val sorted = fires == fires.sorted && fires.distinct == fires
      val bounded = fires.forall(f => f.isAfter(start) && !f.isAfter(until))
      val fieldsMatch = fires.forall { f =>
        val z = f.atZone(java.time.ZoneId.of(tz))
        // re-deriving membership from the cron string's own grammar
        val mins = graft.pipeline.Schedule.parseField(cron.split("\\s+")(0), 0, 59)
        val hrs = graft.pipeline.Schedule.parseField(cron.split("\\s+")(1), 0, 23)
        val dows = graft.pipeline.Schedule.parseField(cron.split("\\s+")(4), 0, 7)
          .map(d => if (d == 7) 0 else d)
        mins(z.getMinute) && hrs(z.getHour) &&
          (cron.split("\\s+")(4) == "*" || dows(z.getDayOfWeek.getValue % 7))
      }
      // chaining nextFire reproduces the same list (consistency law)
      val chained = Iterator.iterate(Option(start))(o =>
          o.flatMap(t => sch.nextFire(t).filter(f => !f.isAfter(until))))
        .drop(1).takeWhile(_.isDefined).map(_.get).toSeq
      sorted && bounded && fieldsMatch && fires == chained
    }
  // HRW (rendezvous) placement law — the q214 minimal-disruption
  // guarantee on ARBITRARY id sets: growing the shard grid from n to
  // n+1 moves a doc ONLY if the new shard wins it; no doc ever moves
  // between surviving shards. Pure md5 arithmetic, no Spark needed.
  private def hrwW(shard: Int, id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.lang.Long.parseLong(
      md.digest(s"$shard:$id".getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString, 16)
  }
  private def hrwAssign(id: Long, n: Int): Int =
    (0 until n).map(s0 => (hrwW(s0, id), -s0)).max match { case (_, ns) => -ns }

  property("HRW: adding a shard moves docs only onto the new shard") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 1000000L)),
      Gen.chooseNum(2, 12)) { (ids, n) =>
      ids.forall { id =>
        val before = hrwAssign(id, n)
        val after = hrwAssign(id, n + 1)
        after == before || after == n
      }
    }
  // CMS one-sided law (q190/q199/q210): for ANY multiset of keys, the
  // row-min estimate never undercounts any key's true frequency —
  // pure md5 counter arithmetic, no Spark.
  private def cmsB(j: Int, k: Long): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Integer.parseInt(
      md.digest(s"$j:$k".getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString, 16)
  }

  property("CMS: row-min estimate >= exact count for every key on any feed") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0L, 50L))) { keys =>
      val exact = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val counters = scala.collection.mutable.Map.empty[(Int, Int), Long]
      exact.foreach { case (k, n) => (0 to 3).foreach { j =>
        val c = (j, cmsB(j, k)); counters(c) = counters.getOrElse(c, 0L) + n } }
      exact.forall { case (k, n) =>
        (0 to 3).map(j => counters((j, cmsB(j, k)))).min >= n
      }
    }

  // Cohen's kappa range law (q220): the exact-ppm rational stays within
  // [-1e6, 1e6] for every non-degenerate 2x2 table.
  property("kappa ppm lies in [-1e6, 1e6] on any 2x2 contingency") =
    forAll(Gen.chooseNum(0L, 50L), Gen.chooseNum(0L, 50L),
      Gen.chooseNum(0L, 50L), Gen.chooseNum(0L, 50L)) { (n11, n10, n01, n00) =>
      val n = n11 + n10 + n01 + n00
      val pe2 = BigInt(n11 + n10) * (n11 + n01) + BigInt(n01 + n00) * (n10 + n00)
      val num = BigInt(n) * (n11 + n00) - pe2
      val den = BigInt(n) * n - pe2
      den == 0 || {
        val k = if (num < 0) -((-num) * 1000000 / den) else num * 1000000 / den
        k.abs <= 1000000
      }
    }

  // Quantile-bin geometry law (q193/q201/q213/q219): every non-negative
  // value lands in a bin that CONTAINS it, and the bin's relative width
  // is <= 1/16 of its lower edge past the exact region — the <= 6.25%
  // guarantee, as arithmetic.
  private def qBinId(v: Long): Long =
    if (v < 16) v
    else {
      val b = 63 - java.lang.Long.numberOfLeadingZeros(v)
      b * 16 + ((v >> (b - 4)) - 16)
    }
  private def qLo(id: Long): Long =
    if (id < 64) id else (16 + id % 16) << (id / 16 - 4).toInt
  private def qHi(id: Long): Long =
    if (id < 64) id + 1 else qLo(id) + (1L << (id / 16 - 4).toInt)

  property("quantile bins contain their values with <= 1/16 relative width") =
    forAll(Gen.chooseNum(0L, 1000000000000L)) { v =>
      val id = qBinId(v)
      qLo(id) <= v && v < qHi(id) &&
        (id < 64 || (qHi(id) - qLo(id)) * 16 <= qLo(id))
    }

  // --- fan-in trigger-rule laws (Pipeline.TriggerRule) ---

  private val genOutcomes: Gen[List[scala.util.Try[Int]]] =
    Gen.listOf(Gen.oneOf(
      Gen.chooseNum(0, 99).map(scala.util.Success(_)),
      Gen.const(scala.util.Failure[Int](new RuntimeException("x")))))

  property("trigger rules: all_success is exactly not(one_failed)") =
    forAll(genOutcomes) { up =>
      import graft.pipeline.Pipeline.TriggerRule._
      AllSuccess.fires(up) == !OneFailed.fires(up)
    }

  property("trigger rules: all_failed is exactly not(one_success)") =
    forAll(genOutcomes) { up =>
      import graft.pipeline.Pipeline.TriggerRule._
      AllFailed.fires(up) == !OneSuccess.fires(up)
    }

  property("trigger rules: all_done always fires; fanIn runs exactly the firing branches in order") =
    forAll(genOutcomes) { up =>
      import graft.pipeline.Pipeline.{fanIn, TriggerRule}
      import TriggerRule._
      val rules = List("s" -> AllSuccess, "f" -> OneFailed, "af" -> AllFailed,
        "os" -> OneSuccess, "d" -> AllDone)
      val fired = fanIn(up)(rules.map { case (n, r) =>
        (n, r, (_: Seq[scala.util.Try[Int]]) => n) }: _*)
      AllDone.fires(up) &&
        fired.map(_._1) == rules.filter(_._2.fires(up)).map(_._1) &&
        fired.forall { case (n, r) => n == r }
    }
}
