package graft


/** Benchmark main (driver contract): runs every registered query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with total + per-query
  * seconds.
  *
  * Methodology: each query is fully executed into the `noop` datasource
  * (all operators run, nothing pruned by a count-only optimization, no
  * sink I/O measured). Two light warmup queries run first so JVM/codegen
  * startup cost lands outside the measurements — the recorded numbers are
  * warm-engine query latencies, the figure that scales to a long-lived
  * cluster. Each query runs TWICE back-to-back and reports the minimum:
  * same-machine runs vary ±25% under shared tenant load and multi-stage
  * queries transiently DOUBLE when another tenant saturates the cores
  * (observed back-to-back same-code swings documented in BASELINE.md) —
  * the min of two executions is the standard way to measure the code
  * rather than the neighbors. The two samples are INTERLEAVED as full
  * passes (every query once in name order, then every query again)
  * rather than back-to-back: back-to-back sampling let one multi-second
  * tenant burst land on BOTH samples of the same few adjacent queries —
  * three consecutive driver artifacts flagged contiguous front-of-run
  * blocks that all reproduced under budget on a quiet box — while
  * pass-separated samples put minutes between a query's two runs, so a
  * burst must last the whole bench to defeat the min. A failure in
  * either pass still marks the query failed. Anti-flap: entries still
  * over their 2× budget after the min-of-2 are re-measured ONCE at end
  * of suite and the min of all samples is reported; the raw samples are
  * emitted under "remeasured" so an artifact distinguishes an ambient
  * spike (third sample in budget) from a regression (all three spiked)
  * without re-running the suite.
  *
  * Materialized views: q44/q55 (and their consumers q64/q70) read
  * memoized per-session views after the first computation, so their
  * min-of-2 entries record the VIEW READ — reuse is the architecture,
  * but it would leave the view pipelines themselves outside the 2×
  * baseline contract. The bench therefore also invalidates each view
  * cache and times the recomputation as explicit `view_*` entries,
  * counted in the total.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()

    // A failed query reports -1 for its own entry AND poisons the total
    // with a large penalty — a broken query must make the bench look
    // WORSE, never quietly drop out of the sum.
    val FailurePenaltySec = 600.0
    def executeOnce(name: String): Double = {
      // label the jobs (guide §1.5) so a UI/event-log trace of a bench
      // run attributes stages to their query without plan archaeology;
      // cleared afterwards or the last query's label leaks onto every
      // later job in the session (round-18 ADVICE)
      spark.sparkContext.setJobDescription(s"bench:$name")
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case t: Throwable =>
          System.err.println(s"BENCH FAILURE $name: ${t.getClass.getName}: ${t.getMessage}")
          return -1.0
      } finally spark.sparkContext.setJobDescription(null)
      (System.nanoTime() - t0) / 1e9
    }
    // warmup-only helper: two consecutive executions, unmeasured
    def execute(name: String): Double = {
      val a = executeOnce(name)
      if (a < 0) return a
      val b = executeOnce(name)
      if (b < 0) return b
      math.min(a, b)
    }

    // warm up scan + join + agg + window codegen paths (unmeasured)
    Seq("q01_pricing_summary", "q03_star_revenue", "q20_topk_per_group")
      .foreach(n => if (SparkEntry.queries.contains(n)) execute(n))

    // view computations as their own measured line items (see scaladoc),
    // min-of-2 like the queries: invalidate + recompute twice, after one
    // UNMEASURED warm computation — the view pipelines run near the
    // front of the bench, and their first execution carries the JIT +
    // codegen + file-footer cold start that has twice shown up as a
    // phantom over_budget flag in driver artifacts (6.83 s cold vs
    // 2.20 s quiet on identical code, rounds 5-6); warming first makes
    // the min-of-2 measure the pipeline, not the engine's first contact
    // with it
    def viewOnce(name: String, v: BenchViews.ViewDef): Double = {
      spark.sparkContext.setJobDescription(s"bench:$name")
      v.invalidate()
      val t0 = System.nanoTime()
      try { v.compute(); (System.nanoTime() - t0) / 1e9 }
      catch {
        case t: Throwable =>
          System.err.println(s"BENCH FAILURE $name: ${t.getClass.getName}: ${t.getMessage}")
          -1.0
      } finally spark.sparkContext.setJobDescription(null)
    }
    // returns (min, the two measured samples) — samples feed the
    // anti-flap remeasure artifact below
    def executeView(name: String, v: BenchViews.ViewDef): (Double, Seq[Double]) = {
      val warm = viewOnce(name, v)
      if (warm < 0) return (warm, Seq(warm))
      val a = viewOnce(name, v)
      if (a < 0) return (a, Seq(a))
      val b = viewOnce(name, v)
      if (b < 0) return (b, Seq(a, b))
      (math.min(a, b), Seq(a, b))
    }
    val viewDefs = BenchViews.entries(spark, sfDir)
    var clusterLabelRounds = -1L
    val viewSamples = scala.collection.mutable.Map[String, Seq[Double]]()
    val views = viewDefs.map { case (name, v) =>
      val (min, samples) = executeView(name, v)
      viewSamples(name) = samples
      // "rounds" snapshot (0 = finished on the driver: the pair set fit
      // the vertex-broadcast gate and no rounds ran): above the gate the
      // label view is a convergence loop whose wall time is
      // round-count-dominated, so the round count makes bench drift
      // attributable (more rounds vs slower rounds). Taken
      // IMMEDIATELY after the view computes — q70/q187 also run the
      // propagation later in the suite, so reading the global at
      // line-format time would attribute the last embedding-cluster
      // query's round count to this view (round-15 ADVICE).
      if (name == "view_cluster_labels")
        clusterLabelRounds = operators.Dedup.lastPropagationRounds.get()
      name -> min
    }

    // interleaved min-of-2 (see scaladoc): pass 1 over the full list,
    // then pass 2, per-query min across the two passes. One-time landing
    // writes (q88/q89 temp materializations) land in pass 1 and are
    // excluded from the min exactly as they were under back-to-back.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val pass1 = names.map(n => n -> executeOnce(n)).toMap
    val pass2 = names.map(n => n -> (if (pass1(n) < 0) -1.0 else executeOnce(n))).toMap
    val minOf2 = names.map { n =>
      val (a, b) = (pass1(n), pass2(n))
      n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    } ++ views

    // Anti-flap remeasure (round-15 verdict task 3): any entry whose
    // min-of-2 lands over its 2× budget gets ONE more sample at end of
    // suite, and the reported figure is the min of all samples. The
    // frozen-baseline policy forbids re-recording the table, so a flag
    // must be adjudicated as ambient-spike vs regression — a third
    // sample taken MINUTES after the first two separates them
    // mechanically (a tenant burst that outlives the whole suite is no
    // longer "ambient"): three spiked samples ⇒ believe the regression.
    // All samples are emitted under "remeasured" so the artifact shows
    // its work; "over_budget" reflects the post-remeasure minima.
    def overBudgetAt(sec: Double, name: String): Boolean =
      sec >= 0 && Baseline.seconds.get(name).exists(b => sec > 2 * b)
    val viewByName = viewDefs.toMap
    val remeasured = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val results = minOf2.map { case (name, sec) =>
      if (!overBudgetAt(sec, name)) name -> sec
      else {
        val third = viewByName.get(name) match {
          case Some(v) => viewOnce(name, v)
          case None => executeOnce(name)
        }
        val prior = viewSamples.getOrElse(name,
          Seq(pass1.getOrElse(name, sec), pass2.getOrElse(name, sec)))
        remeasured(name) = prior :+ third
        name -> (if (third < 0) sec else math.min(sec, third))
      }
    }
    // 4-decimal seconds: sub-0.1ms precision is noise, and the shorter
    // line keeps the driver's stdout capture (which has truncated a
    // full-precision tail before — BENCH_r11's `parsed: null`) intact.
    // Locale.ROOT, not the f-interpolator: a comma-decimal default
    // locale would emit 0,1234 and corrupt the JSON line.
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).map(_._1)
    val total = results.map { case (_, v) => if (v < 0) FailurePenaltySec else v }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Self-check against the recorded per-query baseline (the 2× perf
    // contract): a regression fails LOUDLY in the bench line itself
    // instead of relying on post-hoc diffing — and shared-tenant noise
    // shows up as a broad list across untouched queries rather than
    // silence. Queries newer than the baseline table are skipped until
    // their first green run records an entry.
    val overBudget = results.collect {
      case (name, sec) if sec >= 0 && Baseline.seconds.get(name).exists(b => sec > 2 * b) =>
        val b = Baseline.seconds(name)
        f"""{"query":"$name","sec":$sec%.2f,"baseline":$b,"ratio":${sec / b}%.2f}"""
    }.mkString("[", ",", "]")
    val rounds = s"""{"view_cluster_labels":$clusterLabelRounds}"""
    val remeasuredJson = remeasured.map { case (n, ss) =>
      "\"" + n + "\":" + ss.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"over_budget":$overBudget,"remeasured":$remeasuredJson,"rounds":$rounds,"sf":"$sfDir"}"""
    // The stdout line is the driver contract, but driver artifacts have
    // truncated it mid-tail (BENCH_r11.json ends before q44, parsed:
    // null) — so ALSO land the identical JSON as files: one under /tmp
    // for the driver's collection, one in the repo so every round's full
    // machine-readable bench survives in git. Both names carry the core
    // count of the `local[n]` master, so a run at one core count never
    // overwrites another's.
    val cpus = """local\[(\d+)""".r.findPrefixMatchOf(spark.sparkContext.master)
      .map(_.group(1)).getOrElse(spark.sparkContext.defaultParallelism.toString)
    for (p <- Seq(s"/tmp/bench_full_c$cpus.json", s"bench_full_c$cpus.json")) {
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
      catch { case t: Throwable =>
        System.err.println(s"BENCH WARN: could not write $p: ${t.getMessage}") }
    }
    println(line)
    // Driver-tail summary (round-17 verdict item 2): the full line above
    // is ~10 kB at 252 entries and the driver keeps only a ~2000-char
    // stdout TAIL, so the per-query JSON has arrived truncated mid-line
    // (PERF per_query empty, parsed: null) since ~round 10. This compact
    // trailer — deliberately WITHOUT the "metric" key so it can never be
    // mistaken for the contract line — fits any tail and carries the
    // totals a round-over-round comparison needs; the full line stays
    // the contract and also lands in bench_full_c<cpus>.json for tooling.
    println(s"""{"total":${fmt(total)},"n":${results.size},"failed":${failed.size},"over_budget":${overBudget.count(_ == '{')},"sf":"$sfDir"}""")
    spark.stop()
  }
}
