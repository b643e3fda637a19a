package graft.tools

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.StreamConverters._
import scala.util.Using

import graft.operators.{Analytic, Curation, Dedup, Partitioned, RelationalExt, Similarity, TextOps}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: growth probes. Each mode grows one input f× per factor f,
  * times the production code path on it and prints its `SCALE-*`
  * line(s). Results → BASELINE.md "Scale headroom".
  *
  * `sbt "runMain graft.tools.ScaleProbe <sfDir> [mode] [factor...]"`
  * (default mode `all`, default factors 1 4 16); the modes are the keys
  * of [[modes]]. `all` runs only the three BASELINE-table sections
  * (docs, curation, ann), each over all factors before the next; the
  * targeted modes are one-off measurement protocols run by name.
  * `GRAFT_STAGE_LOG=1` adds [[StageLog]]'s per-stage lines, e.g.
  * `ann 16` profiles where the f=16 near-dup wall goes.
  *
  * The docs protocol replicates every document f×: replica 0 is the
  * original, replicas 1..f−1 append a distinct tail token, so every
  * replica group is a clique of TRUE near-duplicates (Jaccard
  * (n−2)/(n−1) for an n-shingle doc). This is the dedup worst case —
  * the number of qualifying pairs grows ~f² — so the interesting
  * property is that runtime tracks the true pair workload (candidates
  * found) rather than exploding with input size independent of output.
  * Replicated input is checkpointed first so input synthesis never
  * contaminates the pipeline measurement; every measured stage is the
  * production code path, not a copy. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode =
      if (args.length > 1 && !args(1).forall(_.isDigit)) args(1) else "all"
    val rest = args.drop(1).filter(_.forall(_.isDigit))
    val factors = if (rest.nonEmpty) rest.map(_.toInt).toSeq else Seq(1, 4, 16)
    val spark = graft.LocalSession()
    StageLog.install(spark)
    try run(spark, sfDir, mode, factors) finally spark.stop()
  }

  /** Runs one mode over `factors` on the caller's session. */
  def run(spark: SparkSession, sfDir: String, mode: String, factors: Seq[Int]): Unit = {
    require(modes.contains(mode), s"unknown mode '$mode' — $usage")
    modes(mode)(Ctx(spark, sfDir, factors))
  }

  /** What a mode body sees: the session, the fixture dir, the factors. */
  private[graft] final case class Ctx(spark: SparkSession, sfDir: String, factors: Seq[Int]) {
    def tables: graft.Tables = graft.Tables(spark, sfDir)
    def docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def embeddings: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
  }

  /** `df` grown f×: `cols(i)` is the projection of replica `i` (0 until
    * f); f = 1 keeps `df` as it is. Checkpointed, so synthesis never
    * contaminates a timed section. */
  private[graft] def replicate(df: DataFrame, f: Int)(cols: Column => Seq[Column]): DataFrame = (
    if (f == 1) df
    else df.withColumn("i", explode(sequence(lit(0), lit(f - 1)))).select(cols(col("i")): _*)
  ).localCheckpoint()

  /** The worst-case-density docs protocol of the scaladoc above — the
    * one the BASELINE docs and curation tables rest on. */
  private[graft] def replicateDocs(df: DataFrame, f: Int): DataFrame = replicate(df, f)(i => Seq(
    (col("doc_id") * f + i).as("doc_id"),
    when(i === 0, col("text")).otherwise(concat(col("text"), lit(" v"), i)).as("text")))

  /** The embedding protocol: replicas perturb coordinate 0 by i/1000, so
    * every replica group is a cos≈1 clique (true near-dups) and the base
    * corpus's own qualifying pairs replicate f² times. */
  private def replicateEm(df: DataFrame, f: Int): DataFrame = replicate(df, f)(i => Seq(
    (col("vec_id") * f + i).as("vec_id"),
    transform(col("embedding"), (x, idx) =>
      when(idx === 0, x + (i.cast("double") * lit(0.001)).cast("float"))
        .otherwise(x)).as("embedding")))

  private[graft] def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def perFactor(body: (Ctx, Int) => Unit): Ctx => Unit = c => c.factors.foreach(body(c, _))

  /** The events feed `ev` (with a `ts` column) time-shifted f× —
    * replica i moved i·30 days, so history spans 30f distinct days;
    * `cols(i)` are its other columns — landed as a real day-partitioned
    * parquet tree under a fresh temp root, so a measurement is
    * scan+aggregate+write, not synthesis. `body` gets the root, the
    * tree, its day count and its last day; the root is deleted after. */
  private def withDayTree(ev: DataFrame, f: Int)(cols: Column => Seq[Column])(
      body: (String, DataFrame, Long, java.sql.Date) => Unit): Unit = {
    val grown = replicate(ev, f)(i =>
      expr("timestampadd(DAY, CAST(i * 30 AS INT), ts)").as("ts") +: cols(i))
    val root = Files.createTempDirectory("graft_daytree_probe")
    try {
      grown.withColumn("day", to_date(col("ts")))
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$root/tree")
      val tree = ev.sparkSession.read.parquet(s"$root/tree")
      val nDays = tree.select(col("day")).distinct().count()
      val last = tree.agg(max(col("day"))).collect()(0).getDate(0)
      body(root.toString, tree, nDays, last)
    } finally Using.resource(Files.walk(root))(_.toScala(Seq)).reverse.foreach(Files.delete)
  }

  /** The incremental delta-vs-corpus protocol (q93, q236): the docs are
    * split into a corpus and a delta side by the production bucket
    * threshold; each line grows one side f× (worst-case near-dup
    * density) and keeps the other fixed, then times `pairsOf`. */
  private def deltaMode(label: String, pairsOf: (DataFrame, DataFrame) => DataFrame): Ctx => Unit = { c =>
    val bucket = graft.Det.md5Bucket(col("doc_id"))
    val corpus0 = c.docs.filter(bucket < Dedup.DeltaBucketThreshold)
    val delta0 = c.docs.filter(bucket >= Dedup.DeltaBucketThreshold)
    c.factors.foreach { f =>
      // replica-0 id transform only: keeps ids disjoint from the other
      // side's replicas (corpus0/delta0 are disjoint, so k*f never
      // equals j*f+i for 0<i<f), text unchanged
      def shift(df: DataFrame): DataFrame =
        df.select((col("doc_id") * f).as("doc_id"), col("text")).localCheckpoint()
      val (pc, tc) = timed(pairsOf(replicateDocs(corpus0, f), shift(delta0)).localCheckpoint())
      val nc = pc.count()
      val (pd, td) = timed(pairsOf(shift(corpus0), replicateDocs(delta0, f)).localCheckpoint())
      val nd = pd.count()
      println(f"$label f=$f corpus_grown: pairs=$nc t=$tc%.2f " +
        f"delta_grown: pairs=$nd t=$td%.2f")
    }
  }

  /** mode name → body. */
  private[graft] val modes: ListMap[String, Ctx => Unit] = ListMap(
    "docs" -> perFactor { (c, f) =>
      val docs = replicateDocs(c.docs, f)
      val nDocs = docs.count()
      val (exact, tExact) = timed(Dedup.exactPairs(docs).localCheckpoint())
      val nExact = exact.count()
      val (mh, tMinhash) = timed(Dedup.minhashPairs(docs).localCheckpoint())
      val nMinhash = mh.count()
      val (_, tLabels) = timed(noop(Dedup.propagateMinLabels(
        docs.select(col("doc_id").as("id")), exact.select(col("d1"), col("d2")))))
      println(f"SCALE f=$f docs=$nDocs pairs_exact=$nExact pairs_minhash=$nMinhash " +
        f"t_exact=$tExact%.2f t_minhash=$tMinhash%.2f t_labels=$tLabels%.2f")
    },

    // ---- winnowing (q103): the gram hash + per-doc window-min stage is
    // linear in token count; pair cost must track the TRUE overlapping
    // pair count (here ~f² per replica clique), with the df cap bounding
    // any single fingerprint's join bucket at 50² regardless of corpus
    // size — the same candidates-track-output property as MinHash-LSH.
    "winnow" -> perFactor { (c, f) =>
      val docs = replicateDocs(c.docs, f)
      val nDocs = docs.count()
      val (fps, tFp) = timed(Dedup.winnowFingerprints(docs).localCheckpoint())
      val nFps = fps.count()
      val (pairs, tPairs) = timed(
        Dedup.winnowPairs(docs, 3, 50).localCheckpoint())
      val nPairs = pairs.count()
      println(f"SCALE-WINNOW f=$f docs=$nDocs fps=$nFps pairs=$nPairs " +
        f"t_fp=$tFp%.2f t_pairs=$tPairs%.2f")
    },

    // ---- containment dedup (q116): the one dedup lens without a growth
    // measurement until round 16, and the lens the driver bench flagged
    // at 4.45× on a sample that never reproduced on a quiet box — this
    // probe is its variance baseline. Replica groups are mutual
    // near-containments (only the tail shingle differs, so C ≈ 1 both
    // ways): the TRUE ordered-pair answer grows ~f² per group, and the
    // property under test is that candidate volume tracks that true
    // answer (prefix-filter selectivity holds) rather than the
    // df-quadratic worst case a naive shingle join would hit — each
    // shingle's df grows f×, so an unfiltered join would grow f²·|shs|.
    "contain" -> perFactor { (c, f) =>
      val docs = replicateDocs(c.docs, f)
      val nDocs = docs.count()
      val arr = graft.Materialize.cut(Dedup.hashedShingleArray(docs))
      val (cands, tCand) = timed(
        Dedup.containmentCandidates(arr, 3, 4).localCheckpoint())
      val nCands = cands.count()
      val (pairs, tAll) = timed(
        Dedup.containmentPairs(docs, 3, 4).localCheckpoint())
      val nPairs = pairs.count()
      println(f"SCALE-CONTAIN f=$f docs=$nDocs cands=$nCands pairs=$nPairs " +
        f"t_cands=$tCand%.2f t_full=$tAll%.2f")
    },

    // ---- edit-distance verification (q196): the round-16 verdict asked
    // for the same evidence standard as the other dedup lenses — the
    // claim is "DP once per SURVIVING pair", so candidate-pair volume
    // must track the true near-dup answer (~f² per replica clique, the
    // exactPairs property the docs section already measures) and the DP
    // wall must track the pair count with a bounded per-pair constant
    // (the fixed 256-char prefix), never the corpus size independently.
    // t_dp is q196's whole verification stage: prefix attach, 256-char
    // Levenshtein, ppm projection and the final sort.
    "edit" -> perFactor { (c, f) =>
      val docs = replicateDocs(c.docs, f)
      val nDocs = docs.count()
      val (pairs, tPairs) = timed(Dedup.exactPairs(docs).localCheckpoint())
      val nPairs = pairs.count()
      val (_, tDp) = timed(noop(Dedup.editVerifyOnPairs(pairs, docs)))
      println(f"SCALE-EDIT f=$f docs=$nDocs pairs=$nPairs " +
        f"t_pairs=$tPairs%.2f t_dp=$tDp%.2f")
    },

    // ---- duplicate-span scrub (q148): replicas share every chunk except
    // the tail-token one, so a grown corpus makes each chunk key ~f-hot —
    // the skew case the min-struct aggregate + equi-join shape exists
    // for (a row_number window would buffer each hot chunk's partition
    // on one task). Wall must track the chunk stream (linear in f), not
    // the duplicate multiplicity.
    "scrub" -> perFactor { (c, f) =>
      val docs = replicateDocs(c.docs, f)
      val nDocs = docs.count()
      val (out, t) = timed(Curation.spanScrubOn(docs).localCheckpoint())
      val removed = out.agg(sum(col("n_removed"))).collect()(0).getLong(0)
      println(f"SCALE-SCRUB f=$f docs=$nDocs removed_chunks=$removed t=$t%.2f")
    },

    // ---- winnow-anchored span scrub (q234): the q148 scrub protocol at
    // winnow granularity. Replicas share every interior window with
    // their original, so the keeper decision sees ~f-hot fingerprint
    // keys (the aggregate-join skew case) and every non-keeper replica
    // scrubs near-fully; wall must track the window stream (linear in
    // f), never the duplicate multiplicity (f² pair space).
    "wscrub" -> perFactor { (c, f) =>
      val docs = replicateDocs(c.docs, f)
      val nDocs = docs.count()
      val (out, t) = timed(Curation.winnowScrubPipeline(docs).localCheckpoint())
      val removed = out.agg(sum(col("n_removed"))).collect()(0).getLong(0)
      println(f"SCALE-WSCRUB f=$f docs=$nDocs removed_tokens=$removed t=$t%.2f")
    },

    // ---- token-surprisal scoring (q239): the contract is scan-bound
    // wall with VOCABULARY-bounded state — replicas reuse the original
    // token vocabulary (each adds one distinct tail token), so the
    // unigram aggregate's state stays ~flat while the token stream grows
    // f×; the scoring join must track the token stream (linear) and the
    // output stays deci-bit-bucket-sized regardless of corpus size.
    "surprisal" -> perFactor { (c, f) =>
      val docs = replicateDocs(c.docs, f).withColumn("source", lit("probe"))
      val nDocs = docs.count()
      val (uni, tUni) = timed(
        docs.select(explode(split(col("text"), " ")).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("n_t"))
          .localCheckpoint())
      val vocab = uni.count()
      val (out, t) = timed(TextOps.surprisalHistogram(docs).localCheckpoint())
      val nOut = out.count()
      println(f"SCALE-SURPRISAL f=$f docs=$nDocs vocab=$vocab out_rows=$nOut " +
        f"t_uni=$tUni%.2f t_full=$t%.2f")
    },

    // ---- deterministic-HLL set algebra (q184): the pair-estimate
    // report must be FEED-SIZE-INDEPENDENT once pages exist — page
    // build is the linear one-pass cost, but the pair grid's
    // union/intersection estimates run off ≤ types×256 register rows
    // (the stored state of q181). Replica i remaps user ids, so the
    // true distinct sets grow f× while the register frame stays the
    // same shape.
    "setops" -> perFactor { (c, f) =>
      val ev = replicate(c.tables.events.select(col("event_type"), col("user_id")), f)(i =>
        Seq(col("event_type"), (col("user_id") * f + i).as("user_id")))
      val nRows = ev.count()
      val (pages, tBuild) = timed(
        graft.Materialize.cut(
          Analytic.hllRegistersOf(ev, Seq("event_type"), "user_id")))
      val nPages = pages.count()
      val (_, tReport) = timed(noop(Analytic.hllPairEstimates(pages)))
      println(f"SCALE-SETOPS f=$f rows=$nRows pages=$nPages " +
        f"t_build=$tBuild%.2f t_report=$tReport%.2f")
    },

    // ---- deterministic CMS (q190): counter state must SATURATE at
    // d·w rows while the key space grows — replica i remaps part keys
    // (k·f + i), so distinct keys grow f× while the sketch stays 4 ×
    // 65536. Build cost tracks the exact-frame aggregate (linear);
    // the top-20 probe runs off the broadcast counter table and stays
    // flat — the stored-state read pattern at 100 TB.
    "cms" -> perFactor { (c, f) =>
      val keyed = replicate(c.tables.lineitem.select(col("l_partkey").as("k")), f)(i =>
        Seq((col("k") * f + i).as("k")))
      val nRows = keyed.count()
      val (exact, tAgg) = timed(graft.Materialize.cut(
        keyed.groupBy(col("k")).agg(count(lit(1)).as("n_exact"))))
      val nKeys = exact.count()
      val (counters, tBuild) = timed(graft.Materialize.cut(
        Analytic.cmsCountersOf(exact)))
      val nCounters = counters.count()
      val top = exact.orderBy(col("n_exact").desc, col("k").asc_nulls_first)
        .limit(20)
      val (_, tProbe) = timed(noop(Analytic.cmsEstimates(top, counters)))
      println(f"SCALE-CMS f=$f rows=$nRows keys=$nKeys counters=$nCounters " +
        f"t_agg=$tAgg%.2f t_build=$tBuild%.2f t_probe=$tProbe%.2f")
    },

    // ---- two-sample KS fold (q223): the fold's cost is the cent-count
    // aggregate (linear) plus the types × distinct-cents grid — replica
    // i shifts values by i cents, growing the DISTINCT-value frame ~f×
    // with event volume f× (the grid-hostile case), so the interesting
    // property is wall tracking the grid size, never event volume alone,
    // and the count aggregate staying the only event-sized stage.
    "ks" -> perFactor { (c, f) =>
      val keyed = replicate(c.tables.events.select(col("event_type"), col("value")), f)(i =>
        Seq(col("event_type"), (col("value") + i * 0.01).as("value")))
      val nRows = keyed.count()
      val cents = keyed.select(col("event_type").as("g"),
          round(col("value") * 100).cast("long").as("v"))
        .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
      val (pages, tAgg) = timed(graft.Materialize.cut(cents))
      val nCells = pages.count()
      val (_, tFold) = timed(noop(Analytic.ksFinish(pages)))
      println(f"SCALE-KS f=$f rows=$nRows cells=$nCells " +
        f"t_agg=$tAgg%.2f t_fold=$tFold%.2f")
    },

    // ---- interval-union sweep (q182): the gaps-and-islands sweep must
    // stay O(n log n) per key as interval volume grows — wall tracks the
    // single suppkey range-sort (linear-ish in f), never the quadratic
    // overlaps-self-join alternative. Replica i shifts dates by i days,
    // so per-supplier interval counts grow f× with heavy overlap (the
    // merge-hostile case: long chains of chained spans).
    "sweep" -> perFactor { (c, f) =>
      val t = c.tables
      val iv0 = t.lineitem
        .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("shipd"))
        .join(t.orders.select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("ship")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("ship"),
          greatest(col("ship"), col("shipd")).as("rcpt"),
          col("l_orderkey"), col("l_linenumber"))
      val iv = replicate(iv0, f)(i => Seq(col("l_suppkey"),
        date_add(col("ship"), i).as("ship"),
        date_add(col("rcpt"), i).as("rcpt"),
        (col("l_orderkey") * f + i).as("l_orderkey"),
        col("l_linenumber")))
      val n = iv.count()
      val (_, tSweep) = timed(noop(graft.operators.WindowOps.intervalUnionOn(iv)))
      println(f"SCALE-SWEEP f=$f intervals=$n t_sweep=$tSweep%.2f")
    },

    // ---- cdf (GlobalCdf / q141): the two-pass prefix sum must stay
    // range-shuffle-shaped as the DISTINCT-VALUE domain grows — wall
    // tracks the domain (one range exchange + per-partition window),
    // and driver state stays at P offset rows regardless of f.
    "cdf" -> perFactor { (c, f) =>
      val pv0 = c.tables.events
        .select(col("value"),
          when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L).as("ia"))
      // replicate the VALUE DOMAIN: shift each copy into its own band so
      // distinct values (the frame GlobalCdf sorts) grow f×
      val pv = replicate(pv0, f)(i =>
          Seq((col("value") + i * lit(1000.0)).as("value"), col("ia")))
        .groupBy(col("value"))
        .agg(sum(col("ia")).as("wa"), sum(lit(1L) - col("ia")).as("wb"))
        .localCheckpoint()
      val nVals = pv.count()
      val (_, tCdf) = timed {
        val (cdf, _) = graft.operators.GlobalCdf.withRunningTotals(
          pv, Seq(col("value").asc), Seq("ca" -> col("wa"), "cb" -> col("wb")))
        noop(cdf)
      }
      println(f"SCALE-CDF f=$f distinct_values=$nVals t_prefix_sums=$tCdf%.2f")
    },

    // ---- pagerank (q127): the two stages must scale on DIFFERENT axes —
    // the edge aggregation linearly with the fact tables (it is one
    // shuffle join + hash agg), the five fixed-point iterations with the
    // |nations|² EDGE frame only (constant as facts grow: the entire
    // point of collapsing to edges before iterating).
    "pagerank" -> perFactor { (c, f) =>
      val t = c.tables
      val li = replicate(t.lineitem.select(col("l_orderkey"), col("l_suppkey")), f)(_ =>
        Seq(col("l_orderkey"), col("l_suppkey")))
      val nLi = li.count()
      val nat = t.nation.select(col("n_nationkey"), col("n_name"))
      val n = nat.count()
      val cust = t.customer.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("src"))
      val supp = t.supplier.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("dst"))
      val (edges, tEdges) = timed(
        Analytic.tradeEdges(li, t.orders, cust, supp).localCheckpoint())
      val nEdges = edges.count()
      val nodes = nat.select(col("n_name").as("node"))
      val (_, tIter) = timed(noop(Analytic.pageRankOnEdges(edges, nodes, n)))
      println(f"SCALE-PAGERANK f=$f lineitem=$nLi edges=$nEdges " +
        f"t_edges_linear=$tEdges%.2f t_iter_const=$tIter%.2f")
    },

    // ---- lpa (q216): the round-17 packed-adjacency reshape's scaling
    // claim — per-round work tracks the EDGE stream linearly (explode of
    // the adjacency arrays feeding an in-stage partial aggregate), never
    // f² — probed on f disjoint copies of the co-purchase graph (order
    // AND part keys shifted per replica, so communities replicate and
    // |E| grows exactly f×). The adjacency build is the one-time cost;
    // the three fixed rounds are the per-query cost.
    "lpa" -> perFactor { (c, f) =>
      val li0 = c.spark.read.parquet(s"${c.sfDir}/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      val li = replicate(li0, f)(i => Seq(
        (col("l_orderkey") * f + i).as("l_orderkey"),
        (col("l_partkey") * f + i).as("l_partkey")))
      val (edges, tEdges) = timed(
        graft.Materialize.cut(Analytic.buildCoPurchaseEdges(li)))
      val nEdges = edges.count()
      val (_, tLpa) = timed(noop(Analytic.labelPropagation(edges, 3)))
      println(f"SCALE-LPA f=$f edges=$nEdges " +
        f"t_edges=$tEdges%.2f t_lpa_linear=$tLpa%.2f")
    },

    // ---- analytic (q108/q115): the sweep-line has two scaling axes —
    // DENSITY (more sessions inside the same days: the per-day window
    // sort grows ~f·log f and a hot day is AQE skew-split's case) and
    // CALENDAR (more days at constant density: day partitions multiply,
    // wall should track rows ~linearly). The rolling-regression window
    // runs over the |groups|×|days| daily frame, so its cost must track
    // that grid, independent of how many fact rows collapsed into it.
    "analytic" -> { c =>
      def replicateEvents(f: Int, shiftDays: Boolean): DataFrame =
        replicate(c.tables.events.select(col("event_id"), col("ts"), col("value")), f)(i => Seq(
          (col("event_id") * f + i).as("event_id"),
          (if (shiftDays) expr("ts + make_interval(0, 0, 0, i * 35, 0, 0, 0)")
           else col("ts")).as("ts"),
          col("value")))
      c.factors.foreach { f =>
        val dense = replicateEvents(f, shiftDays = false)
        val nDense = dense.count()
        val (_, tDense) = timed(noop(Analytic.peakConcurrency(dense)))
        val wide = replicateEvents(f, shiftDays = true)
        val (_, tWide) = timed(noop(Analytic.peakConcurrency(wide)))
        println(f"SCALE-ANALYTIC-CONC f=$f events=$nDense " +
          f"t_dense_days_const=$tDense%.2f t_wide_days_x$f=$tWide%.2f")
      }
      c.factors.foreach { f =>
        // synthetic daily grid: 25 groups × f×2400 days of exact sums
        val daily = c.spark.range(0, 25L * f * 2400)
          .select(
            concat(lit("g"), (col("id") % 25)).as("n_name"),
            (col("id") / 25).cast("long").as("x"),
            (col("id") % 7 + 1).as("cnt"),
            ((col("id") % 1000) + lit(BigDecimal(0.5))).cast("decimal(18,2)").as("sy_d"))
          .localCheckpoint()
        val nDaily = daily.count()
        val (_, tRoll) = timed(noop(Analytic.rollingSlopes(daily)))
        println(f"SCALE-ANALYTIC-ROLL f=$f grid=$nDaily t_roll=$tRoll%.2f")
      }
    },

    // ---- curation passes: the map-only gates must be LINEAR in corpus
    // size (they are per-row expressions), and chunk dedup's one shuffle
    // (window by 8-byte chunk hash) should track the chunk count — the
    // same group-by shape as exact dedup, no pair space at all.
    "curation" -> perFactor { (c, f) =>
      val docs = replicateDocs(c.docs, f)
      val nDocs = docs.count()
      val (_, tGates) = timed(noop(Curation.gateVerdicts(docs)))
      val (_, tChunk) = timed(noop(Curation.chunkDedupOn(docs)))
      println(f"SCALE-CUR f=$f docs=$nDocs t_gates=$tGates%.2f t_chunk=$tChunk%.2f")
    },

    // ---- the round-7 sketch-verify operators: what must be shown is
    // that each one's SHUFFLE is bounded by something other than the
    // corpus — the bloom prefilter's survivor count tracks true
    // contamination (not input size), Misra–Gries summary traffic is
    // capacity-bounded while the naive form shuffles the whole
    // vocabulary, and compaction's partial agg collapses each
    // partition to one row per key before its single exchange.
    "sketch" -> perFactor { (c, f) =>
      // BLOOM PURGE on the shared worst-case near-dup replication (tail
      // tokens keep most replica chunks identical to the original's, so
      // contamination really spreads with f)
      val docs = replicateDocs(c.docs, f)
        .withColumn("lang", lit("xx")).withColumn("source", lit("s0"))
      val nDocs = docs.count()
      val parts = Curation.bloomParts(docs)
      val nTrainChunks = parts.trainChunks.count()
      val nMaybe = parts.maybe.count()
      val (purged, tPurge) = timed(Curation.bloomPurgeOn(docs).localCheckpoint())
      val kept = purged.count()
      println(f"SCALE-BLOOM f=$f docs=$nDocs train_chunks=$nTrainChunks " +
        f"bloom_maybe=$nMaybe kept=$kept t_purge=$tPurge%.2f")

      // HEAVY HITTERS on a wide-vocabulary replication: every replica
      // contributes 4 unique tokens, so vocabulary ~ 4·docs — the regime
      // where the naive groupBy(token) shuffles the whole vocabulary and
      // the MG pass shuffles 64-entry summaries. Both must agree exactly.
      val wide = docs.select(col("doc_id"),
        concat(col("text"),
          lit(" na"), col("doc_id").cast("string"),
          lit(" nb"), col("doc_id").cast("string"),
          lit(" nc"), col("doc_id").cast("string"),
          lit(" nd"), col("doc_id").cast("string")).as("text"))
        .localCheckpoint()
      val toks = wide.select(explode(split(col("text"), " ")).as("token"))
      val vocab = toks.select(countDistinct(col("token"))).head().getLong(0)
      val (mgRows, tMg) = timed(
        TextOps.heavyHittersOn(wide).collect().toSeq)
      val (naiveRows, tNaive) = timed {
        val n = toks.count()
        toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") * TextOps.HeavyHitterCapacity > lit(n))
          .orderBy(col("cnt").desc_nulls_last, col("token").asc_nulls_first)
          .collect().toSeq
      }
      val hhMatch = mgRows.map(r => (r.getString(0), r.getLong(1))) ==
        naiveRows.map(r => (r.getString(0), r.getLong(1)))
      println(f"SCALE-HH f=$f docs=$nDocs vocab=$vocab hh=${mgRows.size} " +
        f"t_mg=$tMg%.2f t_naive=$tNaive%.2f match=$hhMatch")

      // CHANGELOG COMPACTION on a key-space replication (per-key history
      // length fixed, key count ×f): the agg form vs the row_number
      // window form, identical output required.
      val ev = replicate(c.tables.events, f)(i => Seq(
        (col("user_id") * f + i).as("user_id"),
        col("event_type"), col("value"),
        (col("event_id") * f + i).as("event_id"), col("ts")))
      val nEvents = ev.count()
      val (aggDf, tAgg) = timed(RelationalExt.compactOn(ev).localCheckpoint())
      val keys = aggDf.count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").desc_nulls_last, col("event_id").desc_nulls_last)
      val (winDf, tWin) = timed(
        ev.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("event_type") =!= "error")
          .select(col("user_id"), col("event_type").as("last_type"),
            col("value").as("last_value"), col("event_id").as("last_event_id"),
            unix_micros(col("ts")).as("last_ts_us"))
          .orderBy(col("user_id")).localCheckpoint())
      val compactDiff = aggDf.exceptAll(winDf).count() + winDf.exceptAll(aggDf).count()
      println(f"SCALE-COMPACT f=$f events=$nEvents keys=$keys " +
        f"t_agg=$tAgg%.2f t_window=$tWin%.2f sym_diff=$compactDiff")
    },

    // ---- incremental join-view refresh (q164): grow the HISTORY (the
    // old halves of orders/lineitem) f× while the day deltas stay fixed,
    // and measure the refresh (deltaJoinContribFrames) against the full
    // O⋈L recompute on the same grown frames. The claim: refresh wall
    // tracks the old halves' SCAN (linear, no shuffle of them — the
    // delta sides broadcast and match only replica 0), while the full
    // recompute pays the ever-growing old×old shuffle join — the gap is
    // what incremental maintenance buys as a year of history accumulates
    // behind a constant daily delta.
    "joinview" -> { c =>
      val (dO, dL) = Partitioned.deltaJoinDays(c.spark, c.sfDir)
      val (o0, l0) = Partitioned.joinViewInputs(c.spark, c.sfDir)
      c.factors.foreach { f =>
        // replicate only the old half; keys k*f+i keep replicas joined
        // to replicas (i matches i), deltas keep replica-0 keys k*f so
        // their matches stay constant as f grows (the delta day is the
        // latest, so old ∪ delta is the whole frame)
        def grow(df: DataFrame, key: String, dayCol: String, day: String): DataFrame = {
          val d = lit(day).cast("date")
          replicate(df.filter(col(dayCol) < d), f)(i =>
            df.columns.toSeq.map(n => if (n == key) (col(n) * f + i).as(n) else col(n)))
            .unionByName(df.filter(col(dayCol) === d).withColumn(key, col(key) * f)
              .localCheckpoint())
        }
        val ro = grow(o0, "o_orderkey", "o_day", dO)
        val rl = grow(l0, "l_orderkey", "l_day", dL)
        val (_, tRefresh) = timed(noop(Partitioned.deltaJoinContribFrames(ro, rl, dO, dL)))
        val (_, tFull) = timed(noop(Partitioned.viewPartial(ro, rl)))
        println(f"SCALE-JOINVIEW f=$f orders=${ro.count()} lineitem=${rl.count()} " +
          f"refresh=$tRefresh%.2f full=$tFull%.2f")
      }
    },

    // ---- backfill/catchup (q177): the claim to quantify is that ONE
    // day's replay cost is FLAT as the landed history grows (each replay
    // statically prunes to one partition), while the full-history state
    // rebuild grows with it — the reason catchup replays days instead of
    // rescanning.
    "backfill" -> perFactor { (c, f) =>
      val ev = c.tables.events.select(col("ts"), col("event_type"), col("value"))
      withDayTree(ev, f)(_ => Seq(col("event_type"), col("value"))) { (root, tree, nDays, last) =>
        def partials(d: DataFrame) = d
          .groupBy(col("day"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
              .as("sum_value_dec"))
        // warm measurement: run each write twice, report the second —
        // the first pays codegen/JIT, which would otherwise swamp the
        // one-partition replay at small factors
        def replayOnce() = timed(
          partials(tree.filter(col("day") === lit(last)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day").parquet(s"$root/state"))._2
        def fullOnce() = timed(
          partials(tree).write.mode("overwrite").parquet(s"$root/full"))._2
        replayOnce(); fullOnce()
        val tDay = replayOnce()
        val tFull = fullOnce()
        println(f"SCALE-BACKFILL f=$f days=$nDays replay_one_day=$tDay%.2f " +
          f"full_rebuild=$tFull%.2f")
      }
    },

    // ---- incremental deterministic HLL (q181): the claim to quantify is
    // the IVM crossover — the daily distinct-count refresh (stored pages
    // + ONE day's delta page) stays flat as the landed history grows,
    // while q178's full-feed register rebuild grows with it. Same grown
    // day tree as the backfill probe; pages landed first (the state's
    // one-time construction cost, not refresh cost).
    "hll" -> perFactor { (c, f) =>
      val ev = c.tables.events.select(col("ts"), col("event_type"), col("user_id"))
      // distinct users per epoch keep every replica's day pages
      // registering new values (the worst case for state size)
      withDayTree(ev, f)(i => Seq(col("event_type"),
          (col("user_id") + i * lit(1000000L)).as("user_id"))) { (root, tree, nDays, last) =>
        def pages(d: DataFrame) = Analytic.hllRegistersOf(
          d.select(col("event_type"), col("day"), col("user_id")),
          Seq("event_type", "day"), "user_id")
        // landed state: every day before the last (one-time cost)
        pages(tree.filter(col("day") < lit(last)))
          .write.mode("overwrite").parquet(s"$root/state")
        def refreshOnce() = timed(noop(
          Analytic.hllGaugeOf(
            c.spark.read.parquet(s"$root/state").unionByName(
              graft.Materialize.cut(pages(tree.filter(col("day") === lit(last))))))))._2
        def fullOnce() = timed(noop(
          Analytic.hllGaugeOf(graft.Materialize.cut(pages(tree)))))._2
        refreshOnce(); fullOnce() // warm (codegen) — report the second
        val tInc = refreshOnce()
        val tFull = fullOnce()
        println(f"SCALE-HLL f=$f days=$nDays incremental_refresh=$tInc%.2f " +
          f"full_rebuild=$tFull%.2f")
      }
    },

    // ---- incremental delta-vs-corpus dedup (q93): the claim is that a
    // day's landing dedups against the accumulated corpus WITHOUT paying
    // for corpus-internal pairs. Corpus-grown runs replicate the corpus
    // side with worst-case dup density — its INTERNAL pair space grows
    // ~f² — and the incremental wall must not track that space (a full
    // re-dedup would); it tracks the delta's true cross-match workload,
    // which grows ~f (each corpus replica matches). The inverse runs
    // (delta grown, corpus fixed) show the cost that legitimately grows
    // with the day's landing itself.
    "delta" -> deltaMode("SCALE-DELTA", Dedup.incrementalPairs(_, _)),

    // ---- incremental winnow (q236): the delta-mode protocol applied to
    // the winnow lens; the claim is the q93 property transferred:
    // wall tracks delta size × capped fingerprint df, never corpus², so
    // a grown CORPUS with a fixed delta must stay near-flat (the df cap
    // also kicks in as replicas densify each fingerprint's bucket).
    "wdelta" -> deltaMode("SCALE-WDELTA", Dedup.incrementalWinnowPairs(_, _)),

    // ---- bucketed co-located join (q88): the claim to quantify is that
    // bucketing moves the join's shuffle from query time to write time —
    // the co-located plan's shuffle WRITE volume is the group-by's few
    // rows, while the plain merge join shuffles both tables every run.
    // Shuffle bytes come from real task metrics (a listener summing
    // shuffleWriteMetrics over the measured action). Runs once.
    "bucket" -> { c =>
      import graft.operators.Bucketed
      val shuffleBytes = new AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      // listener events post asynchronously; a short drain keeps the
      // byte attribution honest in this dev tool
      def measured[A](body: => A): (A, Double, Long) = {
        Thread.sleep(1500); shuffleBytes.set(0)
        val (r, t) = timed(body)
        Thread.sleep(1500); (r, t, shuffleBytes.get)
      }
      val t = c.tables
      def plainJoin = t.lineitem.hint("merge")
        .join(t.orders.hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_linestatus"))
        .agg(graft.Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_lines"))
        .orderBy(col("o_orderpriority").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
      c.spark.sparkContext.addSparkListener(listener)
      try {
        // the one-time pre-shuffle investment, measured as its own line
        val (_, tWrite, bWrite) = measured(Bucketed.ensureTables(c.spark, c.sfDir))
        val (plainRows, tPlain, bPlain) = measured(plainJoin.collect().toSeq)
        val (bktRows, tBkt, bBkt) = measured(
          Bucketed.coLocatedJoinPipeline(c.spark, c.sfDir).collect().toSeq)
        val same = plainRows == bktRows
        println(f"SCALE-BKT write: t=$tWrite%.2f shuffleMB=${bWrite / 1e6}%.1f " +
          f"(one-time, amortized across every later join)")
        println(f"SCALE-BKT plain_join: t=$tPlain%.2f shuffleMB=${bPlain / 1e6}%.1f " +
          f"bucketed_join: t=$tBkt%.2f shuffleMB=${bBkt / 1e6}%.3f match=$same")
      } finally c.spark.sparkContext.removeSparkListener(listener)
    },

    // ---- incremental embedding dedup (q147): the claim to quantify is
    // that a daily increment's wall tracks the DELTA (fixed here) and
    // the true-match volume, not the corpus: the signature store is
    // landed state (built once per corpus — t_store, paid at append
    // time), so the measured incremental run (t_inc: delta hashing +
    // store equi-join + candidate-only verify) must stay near-flat as
    // the corpus replicates f×, while the full self-join recompute of
    // the same grown corpus∪delta (t_full — what a non-incremental
    // pipeline would do every day) grows with the corpus's own f² pair
    // workload.
    "edelta" -> { c =>
      val bucket = graft.Det.md5Bucket(col("vec_id"))
      val corpus0 = c.embeddings.filter(bucket < Dedup.DeltaBucketThreshold)
      val delta0 = c.embeddings.filter(bucket >= Dedup.DeltaBucketThreshold)
      c.factors.foreach { f =>
        // replica-0 id transform only (q93-delta scheme): corpus0/delta0
        // ids are disjoint, so k*f+i never collides with j*f
        val corpus = replicateEm(corpus0, f)
        val delta = delta0.select((col("vec_id") * f).as("vec_id"),
          col("embedding")).localCheckpoint()
        val nCorpus = corpus.count()
        // occupancy-held geometry, exactly neardupPairsAuto's policy: a
        // store landed at fixed 4-plane depth lets bucket occupancy —
        // and therefore the delta probe's candidate fan-in — grow
        // linearly with the corpus (measured: t_inc 2.6→19 s over
        // f=1→16 at 32×4). The deployment re-lands the store one plane
        // deeper each time the corpus doubles past its occupancy
        // target, which is what holds t_inc flat here.
        val p = Similarity.planesFor(nCorpus)
        val t = Similarity.tablesFor(p)
        val (store, tStore) = timed(
          Similarity.embedSignatureStore(corpus, t, p).localCheckpoint())
        val (inc, tInc) = timed(
          Similarity.incrementalEmbedPairs(corpus, store, delta, t, p)
            .localCheckpoint())
        val nInc = inc.count()
        val (full, tFull) = timed(
          Similarity.neardupPairsAuto(corpus.unionByName(delta))
            .localCheckpoint())
        val nFull = full.count()
        println(f"SCALE-EDELTA f=$f corpus=$nCorpus geo=${t}tx${p}p pairs_inc=$nInc " +
          f"t_store=$tStore%.2f t_inc=$tInc%.2f " +
          f"pairs_full=$nFull t_full=$tFull%.2f")
      }
    },

    // ---- IVF only (cheap re-measure of the quantizer path without the
    // LSH sweep): training must stay flat once the 1000-row cap engages
    "ivf" -> perFactor { (c, f) =>
      val em = replicateEm(c.embeddings, f)
      val n = em.count()
      val (cent, tIvfTrain) = timed(Similarity.trainQuantizer(em, 16, 1000L))
      val (ivfDf, tIvf) = timed(Similarity.ivfProbe(em, cent, 4).localCheckpoint())
      // the K ≈ √n policy next to the pinned K=16: per-query probe
      // fan-in is ~nprobe/K of the corpus, so probe cost must stay
      // flat-or-falling as K scales with the corpus (the BASELINE claim)
      val kAuto = Similarity.cellsFor(n)
      val (centA, tTrainA) = timed(Similarity.trainQuantizer(em, kAuto, 1000L))
      val (ivfA, tIvfA) = timed(Similarity.ivfProbe(em, centA, 4).localCheckpoint())
      // candidate volume — the quantity the K policy actually shrinks
      // (per-query fan-in ∝ nprobe/K of the corpus); assignment cost
      // (∝ K·dim per corpus row) is the price, visible in t_ivf_kauto
      val cand16 = Similarity.ivfCandidates(em, cent, 4).count()
      val candA = Similarity.ivfCandidates(em, centA, 4).count()
      println(f"SCALE-IVF f=$f vecs=$n t_ivf_train=$tIvfTrain%.2f " +
        f"t_ivf=$tIvf%.2f ivf_rows=${ivfDf.count()} cand_k16=$cand16 " +
        f"k_auto=$kAuto t_train_kauto=$tTrainA%.2f t_ivf_kauto=$tIvfA%.2f " +
        f"ivf_rows_kauto=${ivfA.count()} cand_kauto=$candA")
    },

    // ---- the depth-wall SWITCH itself, end to end: the production wall
    // (ExactDepthLimit, p >= 15) needs a >= ~2M-vector corpus, so force
    // the switched branch via the spec hook (wall = 3 < planesFor(n))
    // and measure it AGAINST the exact-bucket auto path on the same
    // corpus — same miss bound by construction, so the pair sets should
    // agree (sym_diff counts any divergence loudly) while the geometry
    // trades tables for probes. This is the measured twin of the
    // SimilarityQualitySpec depth-wall equality assertion.
    "annwall" -> perFactor { (c, f) =>
      val em = replicateEm(c.embeddings, f)
      val n = em.count()
      val p = Similarity.planesFor(n)
      val q = Similarity.probesFor(p)
      val tMp = Similarity.tablesForMultiProbe(p, q)
      val (autoDf, tAuto) = timed(
        Similarity.neardupPairsAuto(em).localCheckpoint())
      val (wallDf, tWall) = timed(
        Similarity.neardupPairsAutoImpl(em, exactDepthLimit = 3).localCheckpoint())
      val pairsAuto = autoDf.count()
      val pairsWall = wallDf.count()
      val symDiff =
        autoDf.select(col("vid1"), col("vid2"))
          .exceptAll(wallDf.select(col("vid1"), col("vid2"))).count() +
        wallDf.select(col("vid1"), col("vid2"))
          .exceptAll(autoDf.select(col("vid1"), col("vid2"))).count()
      val exactGeo =
        if (p <= Similarity.ExactDepthLimit) s"${Similarity.tablesFor(p)}tx${p}p"
        else "beyond-wall(auto already multi-probe)"
      println(f"SCALE-ANNWALL f=$f vecs=$n exact_geo=$exactGeo " +
        f"wall_geo=${tMp}tx${p}px${q}q pairs_auto=$pairsAuto t_auto=$tAuto%.2f " +
        f"pairs_wall=$pairsWall t_wall=$tWall%.2f sym_diff=$symDiff")
    },

    // ---- PQ ADC serving scan (q205): the claim under test is that the
    // probe stage scans 2-byte CODES, not float vectors — both the
    // encode pass (one-time, per corpus append) and the ADC probe are
    // linear in corpus size, but the probe's per-vector work is four
    // broadcast-LUT lookups + adds vs the exact scan's 64-dim float
    // dot per (query, vector). Replicas perturb coordinate 0, so the
    // true neighbor sets stay nontrivial as the corpus grows.
    "adc" -> perFactor { (c, f) =>
      val em = replicateEm(c.embeddings, f)
      val n = em.count()
      val (codes, tEncode) = timed(
        Similarity.pqAssignmentsOf(em).localCheckpoint())
      val nCodes = codes.count()
      val (_, tProbe) = timed {
        val (t, _, _) = Similarity.adcProbeOf(em,
          codes.select(col("vec_id"), col("sub"), col("code")), 10)
        noop(t)
      }
      // exact float-scan baseline: brute-force integer distance of the
      // same 5 queries against the full corpus (the plan ADC replaces)
      val (_, tExact) = timed {
        val ex = Similarity.pqExplodedOf(em)
        val qs = Similarity.adcQueriesOf(em)
        val exq = ex.join(broadcast(qs), col("vec_id") === col("q_id"))
          .select(col("q_id"), col("dim"), col("vi").as("qi"))
        noop(ex.join(broadcast(exq), Seq("dim"))
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy(col("q_id"), col("vec_id"))
          .agg(sum((col("vi") - col("qi")) * (col("vi") - col("qi"))).as("d2"))
          .groupBy(col("q_id"))
          .agg(min(col("d2")).as("best")))
      }
      println(f"SCALE-ADC f=$f vecs=$n code_rows=$nCodes " +
        f"t_encode=$tEncode%.2f t_adc_probe=$tProbe%.2f t_exact_scan=$tExact%.2f")
    },

    // ---- embedding near-dup (q44 path): sign-LSH geometry vs corpus size.
    // Run the production pipeline at the registered 4-plane geometry AND
    // at the depth the corpus size asks for (buckets ∝ n ⇒ planes ~
    // log2(n/target-occupancy)): the 4-plane candidate space degrades
    // toward n²/2⁴ per table as n grows — that gap, not the absolute
    // seconds, is the measurement.
    "ann" -> perFactor { (c, f) =>
      val em = replicateEm(c.embeddings, f)
      val n = em.count()
      val deep = Similarity.planesFor(n)
      // the exact-bucket compensation throws past ExactDepthLimit (it
      // would need > MaxTables) — mirror neardupPairsAuto's switch and
      // report the multi-probe geometry the auto path would actually run
      val exactDepthOk = deep <= Similarity.ExactDepthLimit
      val tDeepTables =
        if (exactDepthOk) Similarity.tablesFor(deep).toString
        else s">${Similarity.MaxTables}(multi-probe)"

      // The fixed 4-plane geometry is probed only while its candidate
      // space (~32·n²/2⁴) stays locally materializable — the point of the
      // probe is precisely that this space outgrows the machine while the
      // depth-scaled geometry keeps tracking the true pair workload.
      val shallowStats =
        if (n <= 10000) {
          val (shallow, tShallow) = timed(
            Similarity.neardupPairsOn(em, tables = 32, planesPerTable = 4)
              .localCheckpoint())
          f"pairs_p4=${shallow.count()} t_p4=$tShallow%.2f"
        } else "pairs_p4=skipped(candidate-space>1e9)"

      // the production default entry point, end to end: single input
      // cut, geometry policy, size-gated broadcast verify — THE number
      // to compare round over round (the round-4 table measured this
      // same entry point before the verify-join fix: 658 s at f=16)
      val (autoDf, tAuto) = timed(
        Similarity.neardupPairsAuto(em).localCheckpoint())
      val pAuto = autoDf.count()

      // multi-probe at the same depth: same per-pair miss bound with
      // ~Q× fewer tables — the hashing/index-size trade, measured next
      // to the exact-bucket compensation (tables_deep above)
      val q = Similarity.probesFor(deep)
      val tMpTables = Similarity.tablesForMultiProbe(deep, q)
      val (mpDf, tMp) = timed(
        Similarity.neardupPairsMultiProbe(em, tables = tMpTables,
          planesPerTable = deep, probes = q,
          broadcastVerify = Similarity.broadcastVerifyFits(n, Similarity.probeDim(em)))
          .localCheckpoint())
      val pMp = mpDf.count()

      // IVF quantizer: the training cap (1000 here, deliberately below
      // the replicated corpus sizes so sampling engages) must keep
      // t_ivf_train FLAT as f grows — training reads a fixed-size
      // sample; only the assignment/probe pass (t_ivf, reusing the
      // trained model — no double training) scales with the corpus.
      val (cent, tIvfTrain) = timed(Similarity.trainQuantizer(em, 16, 1000L))
      val (ivfDf, tIvf) = timed(
        Similarity.ivfProbe(em, cent, 4).localCheckpoint())
      val ivfRows = ivfDf.count()
      val autoGeo =
        if (exactDepthOk) s"${tDeepTables}tx${deep}p"
        else s"${tMpTables}tx${deep}px${q}q(multi-probe)"
      println(f"SCALE-ANN f=$f vecs=$n $shallowStats " +
        f"auto_geo=$autoGeo pairs_auto=$pAuto t_auto=$tAuto%.2f " +
        f"mp_geo=${tMpTables}tx${deep}px${q}q pairs_mp=$pMp t_mp=$tMp%.2f " +
        f"t_ivf_train=$tIvfTrain%.2f t_ivf=$tIvf%.2f ivf_rows=$ivfRows")
    },

    // ---- IVF oracle envelope (q60): scan nprobe at K=16 for FULL output
    // equality with the exact top-5 (q41) — the measurement that sizes
    // q60's verified-SF oracle envelope (the q42/q84 protocol: the
    // oracle is exact only where the candidate set provably contains
    // the full true top-5 at every shipped fixture). Run once per
    // fixture dir; the factors are unused.
    "ivfenvelope" -> { c =>
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      val exact = rows(Similarity.q41.fn(c.spark, c.sfDir))
      val ids = exact.map(t => (t._1, t._3)).toSet
      for (nprobe <- Seq(4, 6, 8, 10, 12, 16)) {
        val got = rows(Similarity.ivfTopK(c.tables.embeddings, k = 16, nprobe = nprobe,
          maxTrain = 65536L).orderBy(col("qid"), col("rk")))
        val recall = (ids & got.map(t => (t._1, t._3)).toSet).size.toDouble / ids.size
        println(f"IVF-ENVELOPE dir=${c.sfDir} nprobe=$nprobe exactEqual=${got == exact} " +
          f"recall=$recall%.3f")
      }
    },

    "all" -> (c => Seq("docs", "curation", "ann").foreach(modes(_)(c))))

  private val usage: String =
    s"usage: ScaleProbe <sfDir> [mode] [factor...]; modes: ${modes.keys.mkString("|")}"
}
