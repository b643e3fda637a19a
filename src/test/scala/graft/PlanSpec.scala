package graft

import graft.operators.{Dedup, Relational, Similarity}

/** Plan-shape regression tests: these assert the *physical* properties
  * that make the queries scale — filters reaching the parquet scan,
  * column pruning, dimension broadcasts, top-k short-circuits, native
  * expressions in hot loops. A correctness-green query that loses one of
  * these properties would still pass the oracle but fall over at 100 TB;
  * this suite is the guard-rail. */
class PlanSpec extends SparkTestBase {

  private def plan(q: QueryDef): String =
    q.fn(spark, sf0001).queryExecution.executedPlan.toString

  test("q01: shipdate filter is pushed to the parquet scan") {
    val p = plan(Relational.q01)
    assert(p.contains("PushedFilters:") && p.contains("LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
  }

  test("q01: scan is column-pruned (no l_orderkey read)") {
    val p = plan(Relational.q01)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"unpruned scan: $readSchema")
    assert(readSchema.contains("l_returnflag"))
  }

  test("q89: the JSON scan parses only required fields (no doc_id read)") {
    // schema pruning works on JSONL like on parquet: the reader skips
    // unrequested fields at parse time — at a 100 TB landing zone that
    // is the difference between parsing five fields and one
    val p = plan(graft.operators.Sources.q89)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("doc_id"), s"unpruned JSON scan: $readSchema")
    assert(readSchema.contains("lang"))
  }

  test("q03: dimension joins are broadcast, not shuffled") {
    val p = plan(Relational.q03)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected nation+region broadcasts:\n$p")
  }

  test("q164: delta-join refresh is 3 broadcast joins — old x old never runs") {
    // the incremental refresh's entire join work: each delta term joins
    // a day-sized side (broadcast) against one old half; if the big-side
    // x big-side join ever re-enters this frame, the refresh costs a
    // full recompute at 100 TB
    val (dO, dL) = graft.operators.Partitioned.deltaJoinDays(spark, sf0001)
    val p = graft.operators.Partitioned.deltaJoinContrib(spark, sf0001, dO, dL)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3,
      s"expected exactly 3 broadcast delta joins:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"an old-x-old shuffle join entered the delta refresh:\n$p")
  }

  test("q04: order-by-limit compiles to TakeOrderedAndProject (no full sort)") {
    val p = plan(Relational.q04)
    assert(p.contains("TakeOrderedAndProject"), s"full sort for top-k:\n$p")
  }

  test("q44: hot loop uses the codegen'd graft_dot, not interpreted HOF lambdas") {
    // pre-checkpoint pipeline: q44 serves the memoized pair view
    val p = Similarity.neardupPairsPipeline(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_dot"), "native dot expression not in plan")
    assert(!p.contains("zip_with"), "interpreted HOF dot product back in the hot path")
  }

  test("q75: top-k is a partial+final object-hash aggregate, never a window sort") {
    val p = plan(graft.operators.WindowOps.q75)
    assert(p.contains("partial_graft_top_k"), s"no map-side combine:\n$p")
    assert(p.contains("ObjectHashAggregate"), s"wrong agg exec:\n$p")
    assert(!p.contains("Window"), s"window shuffle crept back in:\n$p")
  }

  test("join strategy hints are honored (merge vs broadcast)") {
    import org.apache.spark.sql.functions.col
    val t = Tables(spark, sf0001)
    val merged = t.lineitem.hint("merge")
      .join(t.orders.hint("merge"), col("l_orderkey") === col("o_orderkey"))
    assert(merged.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    val bcast = t.lineitem
      .join(org.apache.spark.sql.functions.broadcast(t.orders),
        col("l_orderkey") === col("o_orderkey"))
    assert(bcast.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("dynamic partition pruning kicks in on partitioned fact + filtered dim") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("yr", year(col("o_orderdate")))
    o.write.mode("overwrite").partitionBy("yr").parquet(s"$dir/orders_part")
    val fact = spark.read.parquet(s"$dir/orders_part")
    // dim filter must be genuinely selective (not constant-foldable) for
    // the pruning-benefit heuristic to inject the DPP subquery
    val dimDir = s"$dir/years_dim"
    spark.range(1990, 2005).select(col("id").cast("int").as("dyr"))
      .withColumn("tag",
        when(col("dyr") % 7 < 2, "keep").otherwise("drop"))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "keep")
    val joined = fact.join(dim, col("yr") === col("dyr"))
      .groupBy(col("yr")).count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in:\n$plan")
  }

  test("q49: the JSON struct is parsed once, not once per referencing output") {
    val p = operators.RelationalExt.q49.fn(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    val parses = "from_json".r.findAllIn(p).size
    assert(parses == 1, s"expected exactly one from_json, got $parses:\n$p")
  }

  test("q57: the JSON map is parsed once, not once per referencing output") {
    val p = operators.RelationalExt.q57.fn(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    val parses = "from_json".r.findAllIn(p).size
    assert(parses == 1, s"expected exactly one from_json, got $parses:\n$p")
  }

  test("malformed JSON degrades to null (PERMISSIVE), not failure") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("""{"k": 1}""", """not json""", """{"k": }""").toDF("props")
      .select(from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
    assert(df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
      == Seq(Some(1), None, None))
  }

  // NOTE: q32/q33/q60 checkpoint their (tiny) results before the final
  // total sort, which truncates the registered query's executed plan to a
  // Scan — so these guards inspect the PIPELINE methods (everything up to
  // that checkpoint), where the join shapes actually live.
  test("q32: LSH candidate generation is an equi-join (hash/merge), never a cross product") {
    val p = Dedup.q32Pipeline(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay an equi-join:\n$p")
  }

  test("q33: prefix-filtered exact-Jaccard pair generation is equi-join only") {
    // fixtures sit under the shingle-broadcast gate, where the registered
    // pipeline probes a broadcast index: the join guard inspects the
    // shuffled path above the gate explicitly, and the gated plan must
    // not grow a cross product either
    val shuffled = Dedup.exactPairsShuffled(Dedup.docShingleArrays(spark, sf0001))
      .queryExecution.executedPlan.toString
    assert(shuffled.contains("Join"), s"the shuffled path must join prefixes:\n$shuffled")
    val gated = Dedup.exactPairsPipeline(spark, sf0001)
      .queryExecution.executedPlan.toString
    Seq(shuffled, gated).foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"pair generation must stay an equi-join:\n$p")
    }
  }

  test("q44: embedding near-dup pair generation is equi-join only (no cross product)") {
    // inspect the PRE-checkpoint pipeline: q44 now serves the memoized
    // pair view, whose executed plan is a truncated checkpoint scan
    val p = Similarity.neardupPairsPipeline(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay an equi-join:\n$p")
  }

  test("multi-probe near-dup: probe-to-exact-key candidate generation is equi-join only") {
    import org.apache.spark.sql.functions.col
    val em = Tables(spark, sf0001).embeddings
      .select(col("vec_id"), col("embedding"))
    val p = Similarity.neardupPairsMultiProbe(em, tables = 7,
        planesPerTable = 6, probes = 22)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"multi-probe pair generation must stay an equi-join on the packed key:\n$p")
  }

  test("q182: interval sweep runs on ONE suppkey hash exchange — windows and aggregates share it") {
    val p = plan(operators.WindowOps.q182)
    // the gaps-and-islands sweep must never become an overlaps self-join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval union must stay a window sweep:\n$p")
    // exactly one hash exchange (the suppkey shuffle): both windows AND
    // both downstream aggregates reuse its partitioning; everything else
    // is broadcast or the final output range sort
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly 1 hash exchange, got $hashEx:\n$p")
  }

  test("q66: train rows probe a BROADCAST eval index, never exploded or shuffled") {
    val p = plan(operators.Curation.q66)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"overlap generation must not be pair-shaped:\n$p")
    assert(!p.contains("Generate"), s"the train shingles must not be exploded:\n$p")
    // the eval side is collected and broadcast as an index, and the
    // train rows probe it in map-only tasks: the one exchange left is
    // the output sort's range partitioning
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1 && exchanges.head.contains("Exchange rangepartitioning"),
      s"only the output range sort may shuffle:\n$p")
  }

  test("q67: repetition gate is map-only — native exprs, no shuffle but the output sort") {
    val p = plan(operators.Curation.q67)
    assert(p.contains("graft_bigram_hashes") && p.contains("graft_array_stats"),
      s"native expressions missing from the scan:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"row-local stats must not shuffle the bigram table:\n$p")
  }

  test("q68: chunk dedup is explode + window on native chunk hashes, never a pair join") {
    val p = plan(operators.Curation.q68)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin"),
      s"chunk dedup must not build pairs:\n$p")
    assert(p.contains("graft_chunk_hashes"),
      s"window must rank 8-byte chunk hashes, not chunk strings:\n$p")
  }

  test("workload-wide: no query grows a cross product beyond the known tiny-broadcast set") {
    // The ONLY plans allowed to contain CartesianProduct /
    // BroadcastNestedLoopJoin are those whose build side is provably tiny
    // at any corpus scale: the intentional 5×5 dimension cross join (q16)
    // and 1-row / fixed-small broadcast sides (scalar subqueries q17/q39,
    // the 10-query probe set q41, the per-group rate table q63). Any new
    // query that accidentally goes quadratic fails here by name.
    // CAVEAT: queries whose fn materializes checkpoints (q32/q33/q44/
    // q55/q60/q70 and the memoized views) present truncated executed
    // plans here, so this scan is vacuously green for their interiors —
    // those interiors are guarded by the dedicated pre-checkpoint
    // *Pipeline / propagationRound tests in this suite.
    val allowed = Set("q16_cross_join", "q17_scalar_subquery", "q39_tfidf",
      "q41_cosine_topk", "q63_stratified_sample",
      // q104's corpus-stats frame is ONE row (n_docs, avgdl), broadcast
      // into the per-(doc, term) weights — tiny at any corpus scale.
      "q104_bm25",
      // q122's per-period totals are ONE row broadcast into the 10-row
      // bin frame — same tiny-stats pattern as q104.
      "q122_psi_drift",
      // q125's grand total is ONE row broadcast into the ≤|segments|×
      // |priorities| contingency cells — same tiny-stats pattern.
      "q125_chi_square",
      // q135's join-size total is ONE row broadcast into the top-5 cut
      // of the key-profile frame — same tiny-stats pattern.
      "q135_join_cardinality",
      // q149's types×types grid is a deliberate |event types|² dimension
      // cross join (q16's class) and its type count a 1-row broadcast.
      "q149_markov_matrix",
      // q157 combines three 1-ROW stat frames (degree stats, edge count,
      // triangle count) — same tiny-stats pattern as q104/q122.
      "q157_triangle_count",
      // q159's grand total is ONE row broadcast into the ≤|types|·7
      // cell frame — same tiny-stats pattern as q122/q125.
      "q159_mutual_info",
      // q161's corpus size is ONE row broadcast into the per-term df
      // band filter — q39's scalar-subquery pattern.
      "q161_inverted_index",
      // q162's order total is ONE row broadcast into the surviving
      // rule pairs — same tiny-stats pattern as q104/q122.
      "q162_assoc_rules",
      // q166's reference day is a ONE-row max aggregate broadcast into
      // the event scan — q39's scalar-subquery pattern.
      "q166_recency_score",
      // q175's pair total is ONE row broadcast into the surviving
      // rules — q162's tiny-stats pattern.
      "q175_sequence_rules",
      // q184's type-pair grid is a deliberate |event types|² dimension
      // cross join (q16/q149's class); every register join against it
      // is a broadcast of ≤ types×256 sketch rows.
      "q184_hll_setops",
      // q199 combines two ONE-row frames per pair (the sketch estimate
      // and the exact twin) — the q157 tiny-stats pattern.
      "q199_cms_join_estimate",
      // q207's calendar span is ONE row broadcast into the |types|-row
      // zero-fill frame — q166's scalar-aggregate pattern.
      "q207_cusum",
      // q206's per-round max renormalizer is a ONE-row aggregate
      // broadcast into the |nations|-row score frame — q104's pattern.
      "q206_hits",
      // q212's corpus bigram total is ONE row broadcast into the
      // (source, gram) support fold — q104's tiny-stats pattern.
      "q212_tvd_drift",
      // q215's Benford expectations are a 9-row literal dimension
      // crossed into the |types|-row digit grid — q16's class.
      "q215_benford",
      // q221's token/bigram totals are ONE row broadcast into the
      // surviving collocation pairs — q162's tiny-stats pattern.
      "q221_collocations",
      // q223's CDF grid is a deliberate |event types| × |distinct cents|
      // dimension cross join (q184's class — both sides post-aggregate
      // frames, never row data), and its corpus total is ONE row
      // broadcast into the grid — q104's tiny-stats pattern. q226 walks
      // the same shared ksFinish stage off stored pages.
      "q223_ks_drift", "q226_incremental_ks",
      // q228's max-doc-id anchor is ONE row broadcast into the bigram
      // first-seen frame and the doc scan — q166's scalar pattern.
      "q228_vocab_growth",
      // q232's corpus total is ONE row broadcast into the
      // ≤ sources×bins threshold frame — q104's tiny-stats pattern.
      "q232_distribution_match",
      // q233's day anchor and pooled-stats frames are ONE row each,
      // broadcast into the event scan / 2-row variant frame — q166's
      // scalar pattern twice.
      "q233_cuped",
      // q239's corpus token total is ONE row broadcast into the
      // term-scoring join — q166's scalar pattern; q240 reuses the
      // same scoring kernel against the stored index.
      "q239_surprisal_score", "q240_incremental_surprisal",
      // q242's 20-bucket × |sources| deviation grid crosses two
      // post-aggregate dimension frames — q215's class; row data never
      // enters the cross.
      "q242_mixing_audit")
    val offenders = SparkEntry.allQueries
      .filterNot(q => allowed.contains(q.name))
      .flatMap { q =>
        val p = q.fn(spark, sf0001).queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          Some(q.name)
        else None
      }
    assert(offenders.isEmpty, s"unexpected cross products in: $offenders")
  }

  test("workload-wide: no query plans a global (empty-partitionBy) window over row data") {
    // A Window with an empty partitionSpec plans `Window` over `Exchange
    // SinglePartition` — every input row funnels through ONE task, the
    // canonical scale-killer (this is what q23/q71 used to do; both now
    // go through GlobalRank's range-partitioned two-pass rank). The only
    // plan allowed to keep one is q78, whose global window runs AFTER the
    // per-source aggregate — the single partition it moves is the
    // #sources-row dimension table, not data. Same checkpoint caveat as
    // the cross-product guard above: checkpointing queries present
    // truncated plans here and are guarded by their dedicated
    // pre-checkpoint pipeline tests (GlobalRank's interior below).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    // q137's windows likewise run over the post-aggregate |sources|-row
    // dimension frame, not row data — same argument as q78.
    // q167's windows likewise move only the post-aggregate |sources|-row
    // frame — same argument.
    val allowed = Set("q78_mix_weights", "q137_token_apportion", "q167_water_fill",
      // q138's reverse-cumulative runs over the ≤|days| lifetime
      // distribution — dimension-sized, same argument.
      "q138_life_table",
      // q144's lag runs over the 3-row stage-count frame.
      "q144_funnel_deadline",
      // q145's global-max anchor runs over the |types|-row frame.
      "q145_freshness",
      // q194's share totals run over the post-aggregate |sources|-row
      // frame — same argument as q78.
      "q194_temperature_mix",
      // q195's seed-rank row_number runs over the 16-row codebook frame;
      // q204/q205 reuse the same 16-row seed ranking (pqSeeds).
      "q195_pq_codes", "q204_kmeans_round", "q205_pq_adc",
      // q224's threshold sweep cumsums run over the LM-score bin frame
      // (one bin per 0.05 ln unit, range corpus-statistics-bounded) —
      // dimension-sized, same argument.
      "q224_gate_pr_sweep",
      // q228's cumulative-vocabulary sum runs over the ≤10-row decile
      // frame — dimension-sized, same argument as q78/q137.
      "q228_vocab_growth")
    val offenders = SparkEntry.allQueries
      .filterNot(q => allowed.contains(q.name))
      .flatMap { q =>
        val global = q.fn(spark, sf0001).queryExecution.optimizedPlan.collect {
          case w: LogicalWindow if w.partitionSpec.isEmpty => w
        }
        if (global.nonEmpty) Some(q.name) else None
      }
    assert(offenders.isEmpty, s"single-partition global windows in: $offenders")
  }

  test("global-rank primitive: one range exchange, no window, never SinglePartition") {
    import org.apache.spark.sql.functions.col
    val c = Tables(spark, sf0001).customer.select(col("c_custkey"), col("c_acctbal"))
    val p = operators.GlobalRank.localRankPipeline(
        c, Seq(col("c_acctbal").desc, col("c_custkey")))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"global rank fell back to a single-partition plan:\n$p")
    assert(p.contains("rangepartitioning"),
      s"expected a range repartition on the sort key:\n$p")
    // the in-stage monotonic-id rank needs NO second shuffle and NO
    // window: the range exchange is the only data movement
    assert(p.linesIterator.count(_.contains("Exchange")) == 1,
      s"local rank must not add a second exchange:\n$p")
    assert(!p.contains("Window"), s"local rank must not plan a window:\n$p")
  }

  test("q76/q77: redaction and normalization are map-only scans (sort is the only exchange)") {
    for (q <- Seq(operators.TextOps.q76, operators.TextOps.q77)) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"),
        s"${q.name}: unexpected shuffle in a per-row pass:\n$p")
      assert(!p.contains("Join"), s"${q.name}: unexpected join:\n$p")
    }
    assert(plan(operators.TextOps.q77).contains("graft_nfc"),
      "native NFC expression not in the q77 plan")
  }

  test("q78: mix weights never join — one aggregate, then a dimension-sized window") {
    val p = plan(operators.Curation.q78)
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    // the global window runs AFTER the per-source aggregate: the single
    // partition it moves is the #sources-row dimension table, not data
    assert(p.contains("HashAggregate"), s"aggregate missing:\n$p")
  }

  test("label propagation round is the Pregel equi-join shape (q55/q70 interior)") {
    // the per-round plan that actually runs inside propagationRounds —
    // the loop checkpoints every round, so q55/q70's executed plans are
    // truncated and can't be inspected from the outside
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val lbl = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "lbl")
    val p = Dedup.propagationRound(edges, lbl)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"propagation must stay an equi-join:\n$p")
    // the pointer-jumping shortcut (log-diameter variant) is the same
    // Pregel shape: an equi-join of the label table with itself
    val ps = Dedup.shortcutRound(lbl).queryExecution.executedPlan.toString
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoopJoin"),
      s"pointer jump must stay an equi-join:\n$ps")
  }

  test("q60: IVF probe join is an equi-join on cell id (no cross product)") {
    val p = Similarity.q60Pipeline(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe must stay an equi-join:\n$p")
    assert(p.contains("graft_dot"), "native dot expression not in the IVF plan")
    assert(p.contains("graft_nearest_cells"),
      "native cell assignment not in the IVF plan")
  }

  test("q108: ONE day-hash exchange feeds both the window and the peak aggregate") {
    val p = plan(graft.operators.Analytic.q108)
    // the sweep's running-sum window and the max-per-day aggregate must
    // share the day partitioning: exchanges = day hash (1) + carry-count
    // hash (1) + final output sort range (1); a fourth would mean the
    // peak aggregate re-shuffled what the window already partitioned
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))
    assert(exchanges <= 3, s"q108 grew an extra exchange (got $exchanges):\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"q108 single-partition funnel:\n$p")
  }

  test("q110: weighted sample plans as TakeOrdered over one scan — zero shuffles") {
    val p = plan(graft.operators.Analytic.q110)
    assert(p.contains("TakeOrderedAndProject"), s"q110 lost the top-k short-circuit:\n$p")
    assert(!p.contains("Exchange"), s"q110 must not shuffle the corpus:\n$p")
  }

  test("q119: basket pair generation is an equi join on the order key") {
    val p = plan(graft.operators.RelationalExt.q119)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q119 went quadratic:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q119 lost the top-k short-circuit:\n$p")
  }

  test("q115: the rolling window runs partitioned by group over the daily aggregate") {
    val p = plan(graft.operators.Analytic.q115)
    assert(!p.contains("Exchange SinglePartition"),
      s"q115 rolling window collapsed to a single partition:\n$p")
    // the window input must be the (group, day) aggregate, not raw facts:
    // a Window directly over the join would show no partial aggregate
    assert(p.contains("HashAggregate") && p.contains("Window"),
      s"q115 lost the daily pre-aggregation:\n$p")
  }

  test("plan canary: the most expensive queries keep their load-bearing shapes") {
    // A perf regression on the bench's heaviest entries should be caught
    // as a PLAN diff here, not as a noisy wall-clock flag in a shared-
    // tenant driver run. The interior pipeline shapes (q33 prefix
    // equi-join, q60 IVF cell equi-join, the q55/q70 Pregel round, q44
    // equi-join + native dot) are asserted by the dedicated tests above;
    // this canary pins the remaining load-bearing features.
    //
    // q114: ten exact-decimal sufficient statistics in ONE map-side-
    // combinable full-scan aggregate — 1 pruned scan, 1 exchange,
    // no join, no window. Removing the map-side combine or adding a
    // second pass trips this before it trips the bench.
    val p114 = plan(graft.operators.Analytic.q114)
    assert("Exchange".r.findAllIn(p114).size == 1,
      s"q114 exchange count drifted from 1:\n$p114")
    assert("FileScan".r.findAllIn(p114).size == 1,
      s"q114 scan count drifted from 1:\n$p114")
    assert(p114.contains("partial_sum"), s"q114 lost the map-side combine:\n$p114")
    assert(!p114.contains("Join") && !p114.contains("Window"),
      s"q114 grew a join/window:\n$p114")
    val rs114 = p114.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs114.contains("l_quantity") && !rs114.contains("l_orderkey"),
      s"q114 scan not pruned to the three measure columns: $rs114")
    // q93 / q70 / view consumers: the result checkpoint truncates the
    // executed plan to the cut — ZERO file scans on the read side is the
    // no-replay guarantee the bench totals rely on (the output range
    // sort's exchange is the only one allowed).
    Seq(Dedup.q93 -> "q93", Similarity.q70 -> "q70").foreach { case (q, n) =>
      val p = plan(q)
      assert(!p.contains("FileScan"),
        s"$n: cut lost — the corpus would replay per read:\n$p")
      assert("Exchange".r.findAllIn(p).size == 1,
        s"$n: extra exchange beyond the output sort:\n$p")
    }
    // view_cluster_labels' measured recompute path: the label view is
    // itself a cut whose consumers must also read scan-free
    val labels = Dedup.clusterLabels(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!labels.contains("FileScan"),
      s"cluster-label view not checkpoint-truncated:\n$labels")
    // the graph trio reads the memoized edge view, never the fact
    // tables: a FileScan in any of their plans means the basket
    // expansion replays per query — the exact cost the shared view
    // exists to amortize
    Seq(graft.operators.Analytic.q157 -> "q157",
        graft.operators.Analytic.q163 -> "q163",
        graft.operators.Analytic.q168 -> "q168").foreach { case (q, n) =>
      val p = plan(q)
      assert(!p.contains("FileScan"),
        s"$n: the co-purchase edge view lost its cut — basket expansion replays:\n$p")
    }
    // q175's two interior cuts (pairs/items) must keep the executed
    // plan scan-free: a FileScan here means a fact table replays into
    // the rule join per read (the x/y attach frames are deliberately
    // uncut — they recompute from the checkpoints, never from a scan)
    val p175 = graft.operators.RelationalExt.q175
      .fn(spark, sf0001).queryExecution.executedPlan.toString
    assert(!p175.contains("FileScan"),
      s"q175: an interior cut was lost — fact scans replay:\n$p175")
  }

  test("round-17 shapes: q234 aggregate keeper, q235 TakeOrdered top-20, q236 no corpus self-join") {
    // q234: the first-occurrence decision must be the skew-safe
    // min(doc_id) AGGREGATE joined back on the fingerprint (the q148
    // discipline) — never a window over the hot fingerprint key, and
    // nothing pair-shaped anywhere in the scrub
    val p234 = graft.operators.Curation
      .winnowScrubPipeline(graft.Tables(spark, sf0001).documents)
      .queryExecution.executedPlan.toString
    assert(!p234.contains("CartesianProduct") &&
      !p234.contains("BroadcastNestedLoopJoin"),
      s"q234 grew a pair-shaped join:\n$p234")
    assert(!p234.contains("Window"),
      s"q234 keeper decision regressed to a window over the hot key:\n$p234")
    // q235: the top-20 cut must be TakeOrderedAndProject (never a global
    // sort of the corpus-sized gram table), with no join anywhere
    val p235 = plan(graft.operators.TextOps.q235)
    assert(p235.contains("TakeOrderedAndProject"),
      s"q235 full-sorts the gram table:\n$p235")
    assert(!p235.contains("Join"), s"q235 grew a join:\n$p235")
    assert(p235.contains("partial_count") || p235.contains("partial"),
      s"q235 lost the map-side combine:\n$p235")
    // q236: exactly TWO document scans (corpus side + delta side) — a
    // third scan would mean the corpus index replays or self-joins
    val p236 = plan(graft.operators.Dedup.q236)
    // the result cut truncates the executed plan; inspect the
    // pre-checkpoint pipeline instead (the PlanSpec convention)
    val bucket = graft.Det.md5Bucket(org.apache.spark.sql.functions.col("doc_id"))
    val docs236 = graft.Tables(spark, sf0001).documents
    val pre236 = graft.operators.Dedup.incrementalWinnowPairs(
        docs236.filter(bucket < graft.operators.Dedup.DeltaBucketThreshold),
        docs236.filter(bucket >= graft.operators.Dedup.DeltaBucketThreshold))
      .queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(pre236).size == 2,
      s"q236 scan count drifted from 2 (corpus + delta):\n$pre236")
    assert(!pre236.contains("CartesianProduct") &&
      !pre236.contains("BroadcastNestedLoopJoin"),
      s"q236 grew a pair-shaped join:\n$pre236")
    assert(!p236.contains("CartesianProduct"), s"q236 post-cut cartesian:\n$p236")
  }

  test("round-17 shapes: q237 join-free splits, q238 broadcast dims, q239 equi scoring") {
    // q237: each pair endpoint's split is computed from its own id on
    // the (near-dup-sized) pair table, with no join — the pair pipeline
    // itself is guarded pre-cut by the q33 test; here the post-cut
    // consumer must never grow a pair-shaped join of its own
    val p237 = plan(graft.operators.Dedup.q237)
    assert(!p237.contains("CartesianProduct") &&
      !p237.contains("BroadcastNestedLoopJoin"),
      s"q237 grew a non-equi join:\n$p237")
    // q238: all 7 FK edges must be joins against DISTINCT dim keys; the
    // 6 dimension edges broadcast (explicit hint — a shuffle of lineitem
    // against a 25-row nation would be the classic wasted exchange), and
    // nothing is pair-shaped
    val p238 = plan(graft.operators.Relational.q238)
    assert("BroadcastHashJoin".r.findAllIn(p238).size >= 6,
      s"q238: dimension edges lost their broadcast:\n$p238")
    assert(!p238.contains("CartesianProduct") &&
      !p238.contains("BroadcastNestedLoopJoin"),
      s"q238 grew a non-equi join:\n$p238")
    // q239: term-keyed scoring must be an equi join (the 1-row total
    // broadcast is the one whitelisted BNLJ); the unigram aggregate
    // keeps its map-side combine
    val p239 = plan(graft.operators.TextOps.q239)
    assert(!p239.contains("CartesianProduct"), s"q239 cartesian:\n$p239")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p239).size <= 1,
      s"q239: more than the one 1-row total broadcast is nested-loop shaped:\n$p239")
    assert(p239.contains("partial_count") || p239.contains("partial"),
      s"q239 unigram aggregate lost its map-side combine:\n$p239")
    // q240: the incremental cell reads the DELTA scan + the checkpointed
    // index — a second FileScan would mean the corpus text re-reads
    // through the scoring path (the incremental contract violation)
    val p240 = plan(graft.operators.TextOps.q240)
    assert("FileScan".r.findAllIn(p240).size == 1,
      s"q240: corpus text re-read in the scoring path (expected 1 delta scan):\n$p240")
    assert(!p240.contains("CartesianProduct"), s"q240 cartesian:\n$p240")
  }

  test("q230: coordinated sample filters BOTH sides before the join (no dim lookup decides membership)") {
    val p = plan(graft.operators.Curation.q230)
    // the point of coordination: the fact side arrives at the join
    // already filtered by the same key predicate — two independent
    // md5-bucket filters, one per scan, never a join-then-filter
    assert("conv\\(substring\\(md5".r.findAllIn(p).size >= 2,
      s"q230: expected the md5-bucket predicate on both scan sides:\n$p")
    val joinLine = p.linesIterator.find(_.contains("Join")).getOrElse("")
    assert(joinLine.nonEmpty && !p.contains("CartesianProduct"),
      s"q230: equi join missing:\n$p")
  }

  test("q231: conformance audit is join-free — one scan per format, unioned aggregates") {
    val p = plan(graft.operators.Sources.q231)
    assert(!p.contains("Join"),
      s"q231: the per-format fingerprints must not join:\n$p")
    assert(p.contains("partial_count"),
      s"q231: fingerprint aggregate lost its map-side combine:\n$p")
  }
}
