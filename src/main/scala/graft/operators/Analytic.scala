package graft.operators

import graft.{Det, Materialize, QueryDef, QueryPack, Tables}
import graft.Det.{dsum, sqlDsum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

/** Statistical / time-analytic operator pack: interval sweep-line
  * concurrency, grouped OLS regression, weighted deterministic sampling,
  * histogram profiling, robust (median/MAD) outlier detection, and
  * reciprocal-rank fusion of two retrieval rankings.
  *
  * The reference's analytics stop at orchestration (SURVEY §2.1); this
  * pack extends the engine's inventory with the profiling/QA primitives a
  * training-data pipeline runs next to curation — distribution profiling
  * before/after a filter gate (q111), anomaly triage on telemetry (q112),
  * weighted corpus subsampling (q110), load/occupancy analysis of the
  * event stream (q108), drift trends (q109) and multi-signal retrieval
  * fusion (q113).
  *
  * Shared determinism rules (ARCHITECTURE.md contract): every float
  * reduction is an exact decimal/integer sum (never engine-order double
  * SUM), every output float is rounded, every ORDER BY is total with
  * explicit null placement, days are emitted as DATE and instants as
  * epoch BIGINT, and cross-engine sampling keys come from md5 prefixes.
  */
object Analytic extends QueryPack {

  // --------------------------------------------------------------- q108
  /** Peak concurrency per day — the classic interval sweep-line, shaped
    * for a cluster: each event opens a session `[ts, ts + floor(value)
    * seconds)` (the fixture's `value` doubles as a duration; real
    * deployments have explicit end timestamps) and the question is the
    * maximum number of simultaneously-open sessions each day.
    *
    * Algorithm: every interval emits a `+1` delta at its start and a
    * `-1` at its end (half-open: at equal instants ends sort before
    * starts, so a session ending exactly when another starts never
    * overlaps it); the running delta sum in time order is the
    * concurrency curve, and its per-day max is the answer. The running
    * sum is a PARTITIONED window (by day), never a global one — each
    * day's curve is independent given the day-start level, and that
    * carry-in level is recovered relationally: with sub-day durations
    * (fixture max 490 s; the operator contract documents < 24 h) a
    * session is open at a midnight iff it starts the previous day and
    * ends this day, so `carry(D)` is a count aggregate over
    * `end_day = start_day + 1` — an equi-grouping, no prefix scan over
    * days, no driver state.
    *
    * Scale: two narrow map passes (delta emission), one hash exchange on
    * `day` for the window sort and one for the carry count; day is a
    * natural high-cardinality-enough partition key for an events table
    * (and a skewed hot day is exactly AQE's skew-split case). Contrast
    * with a global-order sweep, which would be a GlobalRank-style range
    * shuffle — partitioning by the calendar makes the carry computable
    * by equi-join instead, which is the cheaper 100 TB shape.
    *
    * Determinism: deltas and their running sums are integers; the window
    * order `(t_us, delta, event_id)` is total (`event_id` appears once
    * per side). `floor(value)` not a cast — DuckDB CAST(double AS INT)
    * rounds half-to-even while Spark truncates. */
  /** The q108 pipeline over any `(event_id, ts, value)` frame —
    * factored out so ScaleProbe can drive it on replicated corpora. */
  private[graft] def peakConcurrency(events: DataFrame): DataFrame = {
    val iv = events.select(
      col("event_id"),
      unix_micros(col("ts")).as("s_us"),
      (unix_micros(col("ts")) + floor(col("value")).cast(LongType) * 1000000L).as("e_us"))
    val deltas = iv.select(col("event_id"), col("s_us").as("t_us"), lit(1).as("delta"))
      .unionByName(iv.select(col("event_id"), col("e_us").as("t_us"), lit(-1).as("delta")))
      .withColumn("day", to_date(timestamp_micros(col("t_us"))))
    val w = Window.partitionBy(col("day"))
      .orderBy(col("t_us"), col("delta"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peaks = deltas.withColumn("r", sum(col("delta")).over(w))
      .groupBy(col("day")).agg(max(col("r")).as("max_run"))
    val carry = iv
      .withColumn("s_day", to_date(timestamp_micros(col("s_us"))))
      .withColumn("e_day", to_date(timestamp_micros(col("e_us"))))
      .filter(col("e_day") === date_add(col("s_day"), 1))
      .groupBy(col("e_day").as("day")).agg(count(lit(1)).as("c"))
    peaks.join(carry, Seq("day"), "left")
      .select(
        col("day"),
        coalesce(col("c"), lit(0L)).as("carry_in"),
        (coalesce(col("c"), lit(0L)) + greatest(lit(0L), col("max_run"))).as("peak"))
      .orderBy(col("day").asc_nulls_first)
  }

  val q108 = QueryDef(
    "q108_peak_concurrency",
    (spark, dir) => peakConcurrency(Tables(spark, dir).events),
    Some("""WITH iv AS (
      SELECT event_id, epoch_us(ts) AS s_us,
             epoch_us(ts) + CAST(FLOOR(value) AS BIGINT) * 1000000 AS e_us
      FROM events),
    deltas AS (
      SELECT event_id, s_us AS t_us, 1 AS delta FROM iv
      UNION ALL
      SELECT event_id, e_us AS t_us, -1 AS delta FROM iv),
    run AS (
      SELECT CAST(make_timestamp(t_us) AS DATE) AS day,
             SUM(delta) OVER (PARTITION BY CAST(make_timestamp(t_us) AS DATE)
               ORDER BY t_us, delta, event_id ROWS UNBOUNDED PRECEDING) AS r
      FROM deltas),
    peaks AS (SELECT day, MAX(r) AS max_run FROM run GROUP BY day),
    carry AS (
      SELECT CAST(make_timestamp(e_us) AS DATE) AS day, COUNT(*) AS c
      FROM iv
      WHERE CAST(make_timestamp(e_us) AS DATE) = CAST(make_timestamp(s_us) AS DATE) + 1
      GROUP BY 1)
    SELECT p.day, CAST(COALESCE(c.c, 0) AS BIGINT) AS carry_in,
           CAST(COALESCE(c.c, 0) + GREATEST(0, p.max_run) AS BIGINT) AS peak
    FROM peaks p LEFT JOIN carry c ON p.day = c.day
    ORDER BY p.day ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q109
  /** Per-nation OLS trend of order value over time — grouped linear
    * regression from sufficient statistics, the distributed form of
    * `regr_slope`/`regr_intercept`/`r2`.
    *
    * The whole regression reduces to six per-group sums (n, Σx, Σx²,
    * Σy, Σxy, Σy²) — ONE map-side-combinable hash aggregate, then pure
    * per-group scalar math. That is the textbook 100 TB shape: no
    * second pass, no per-group sort, state O(groups).
    *
    * Determinism: x (days since 1998-01-01) is integral, so Σx/Σx² are
    * exact longs; y enters sums only as DECIMAL(18,2) (Σy, Σxy, Σy² are
    * exact decimal accumulations — never engine-order double SUM, the
    * [[Det]] rule); both engines then evaluate the identical double
    * expression over identical stats. The native `regr_*`/`covar_pop`
    * aggregates in both engines are rejected precisely because their
    * double accumulation is reduction-order-dependent. */
  val q109 = QueryDef(
    "q109_group_regression",
    (spark, dir) => {
      val t = Tables(spark, dir)
      val pts = t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .select(
          col("n_name"),
          datediff(col("o_orderdate").cast("date"), lit("1998-01-01").cast("date"))
            .cast(LongType).as("x"),
          col("o_totalprice").as("y"))
      // Scale 2 (prices are cents): y² stays scale 4 and its UNSCALED
      // value fits int64, which DuckDB's decimal multiply requires at
      // these operand widths — scale 6 squares overflow its int64 path,
      // and widening an operand makes Spark (precision-capped at 38)
      // round the scale-12 product while DuckDB keeps it exact.
      val yd = col("y").cast(DecimalType(18, 2))
      val xd = col("x").cast(DecimalType(18, 0))
      val s = pts.groupBy(col("n_name")).agg(
        count(lit(1)).as("n_pts"),
        count(lit(1)).cast(DoubleType).as("n"),
        sum(col("x")).cast(DoubleType).as("sx"),
        sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
        sum(yd).cast(DoubleType).as("sy"),
        sum(xd * yd).cast(DoubleType).as("sxy"),
        sum(yd * yd).cast(DoubleType).as("syy"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      val r2num = (col("n") * col("sxy") - col("sx") * col("sy")) *
        (col("n") * col("sxy") - col("sx") * col("sy"))
      val r2den = (col("n") * col("sxx") - col("sx") * col("sx")) *
        (col("n") * col("syy") - col("sy") * col("sy"))
      s.select(
          col("n_name"), col("n_pts"),
          round(slope, 6).as("slope"),
          round((col("sy") - slope * col("sx")) / col("n"), 4).as("intercept"),
          round(r2num / r2den, 6).as("r2"))
        .orderBy(col("n_name").asc_nulls_first)
    },
    Some("""WITH pts AS (
      SELECT n_name,
        CAST(date_diff('day', DATE '1998-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        o_totalprice AS y
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey),
    s AS (
      SELECT n_name,
        COUNT(*) AS n_pts,
        CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(x) AS DOUBLE) AS sx,
        CAST(SUM(x * x) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM pts GROUP BY n_name)
    SELECT n_name, n_pts,
      round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
      round((sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n, 4) AS intercept,
      round(((n*sxy - sx*sy) * (n*sxy - sx*sy)) /
            ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
    FROM s ORDER BY n_name ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q110
  /** Weighted sampling without replacement (Efraimidis–Spiliotopoulos
    * A-ES): each document draws key `ln(u) / w` with `u ∈ (0,1)` and
    * weight `w = n_chars`; the global top-k by key IS an exact weighted
    * sample without replacement. The pipeline idiom for "sample 1%
    * of the corpus proportionally to document length" — one map pass +
    * TakeOrdered, no shuffle of the corpus.
    *
    * Determinism: `u` is not a PRNG draw but the first 32 md5 bits of
    * the doc id (+0.5, scaled by 2^32 — a power of two, so the division
    * is exact), the contract's cross-engine hash idiom widened from
    * [[Det.md5Bucket]]'s 16 bits so ties are rare; remaining ties break
    * by doc_id. Same stable-under-retry argument as md5Bucket: the
    * sample is a pure function of the data, valid because md5 bits are
    * uniform and independent of the weight column.
    *
    * Scale: keys are computed in a map pass; global top-100 plans as
    * TakeOrderedAndProject (per-partition heads, driver merge of
    * P×100 rows) — no global sort, no window. */
  /** The Efraimidis–Spiliotopoulos sampling key ln(u)/w with u = the
    * first 32 md5 bits of `id` — the cross-engine sampling CONTRACT
    * shared by q110 (global draw) and q150 (per-group draw): one
    * definition, so a future change cannot leave the two queries
    * drawing different samples while both still pass their own
    * oracles. */
  private def esKey(id: Column, weight: Column): Column = {
    val u32 = conv(substring(md5(id.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast(LongType)
    log((u32.cast(DoubleType) + lit(0.5)) / lit(4294967296.0)) / weight
  }

  val q110 = QueryDef(
    "q110_weighted_sample",
    (spark, dir) => {
      val k = esKey(col("doc_id"), col("n_chars"))
      Tables(spark, dir).documents
        .select(col("doc_id"), col("source"), col("n_chars"), k.as("k"))
        .orderBy(col("k").desc_nulls_last, col("doc_id").asc_nulls_first)
        .limit(100)
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("k"), 9).as("samp_key"))
    },
    Some("""WITH keyed AS (
      SELECT doc_id, source, n_chars,
        ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
           / 4294967296.0) / n_chars AS k
      FROM documents)
    SELECT doc_id, source, n_chars, round(k, 9) AS samp_key
    FROM keyed
    ORDER BY k DESC NULLS LAST, doc_id ASC NULLS FIRST
    LIMIT 100"""))

  // --------------------------------------------------------------- q150
  /** Per-GROUP weighted sampling — q110's Efraimidis–Spiliotopoulos
    * draw stratified by `source`: the top-20 E–S keys within every
    * source, i.e. one independent weighted-without-replacement sample
    * per stratum in a single pass. The curation form ("sample k docs
    * per source, long docs proportionally more likely") of q110's
    * global draw; same determinism contract — the uniform is 32 md5
    * bits of the doc id, so both engines (and any re-run) draw the
    * identical sample.
    *
    * Scale shape: one map pass for the keys + ONE window partitioned by
    * `source` (high-cardinality-safe: rank-k per group never sorts
    * globally); output is |sources|·20 rows regardless of corpus
    * size. */
  val q150 = QueryDef(
    "q150_group_weighted_sample",
    (spark, dir) => {
      val k = esKey(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("k").desc_nulls_last, col("doc_id").asc_nulls_first)
      Tables(spark, dir).documents
        .select(col("doc_id"), col("source"), col("n_chars"), k.as("k"))
        .withColumn("rk", row_number().over(w).cast(IntegerType))
        .filter(col("rk") <= 20)
        .select(col("source"), col("rk"), col("doc_id"), col("n_chars"),
          round(col("k"), 9).as("samp_key"))
        .orderBy(col("source").asc_nulls_first, col("rk").asc_nulls_first)
    },
    Some("""WITH keyed AS (
      SELECT doc_id, source, n_chars,
        ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
           / 4294967296.0) / n_chars AS k
      FROM documents),
    ranked AS (
      SELECT source, doc_id, n_chars, k,
        CAST(row_number() OVER (PARTITION BY source
          ORDER BY k DESC NULLS LAST, doc_id ASC NULLS FIRST) AS INT) AS rk
      FROM keyed)
    SELECT source, rk, doc_id, n_chars, round(k, 9) AS samp_key
    FROM ranked WHERE rk <= 20
    ORDER BY source ASC NULLS FIRST, rk ASC"""))

  // --------------------------------------------------------------- q111
  /** Equi-width histogram of order value per market segment — the
    * distribution-profiling pass a curation pipeline runs before and
    * after every filter gate. Bin index is explicit floor arithmetic
    * (never a double→int CAST: DuckDB rounds, Spark truncates), counts
    * and exact-decimal sums plus min/max (exact doubles) per cell.
    * ONE hash aggregate on (segment, bin) after an equi-join to the
    * customer dim; fully map-side combinable, output is |segments|×|bins|
    * rows regardless of input scale. */
  val q111 = QueryDef(
    "q111_histogram",
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy(
          col("c_mktsegment"),
          floor(col("o_totalprice") / 50000.0).cast(IntegerType).as("bin"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("c_mktsegment").asc_nulls_first, col("bin").asc_nulls_first)
    },
    Some(s"""SELECT c_mktsegment,
      CAST(FLOOR(o_totalprice / 50000.0) AS INT) AS bin,
      COUNT(*) AS n,
      ${sqlDsum("o_totalprice")} AS sum_price,
      MIN(o_totalprice) AS min_price,
      MAX(o_totalprice) AS max_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1, 2
    ORDER BY c_mktsegment ASC NULLS FIRST, bin ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q112
  /** Robust outlier detection per event type: median/MAD score
    * (`|x − med| / (1.4826·MAD)`), the heavy-tail-safe alternative to
    * z-scores — mean/stddev move with the outliers they are supposed to
    * flag; the median and MAD don't.
    *
    * Shape: two exact-percentile aggregates over the same grouping key
    * (median, then MAD of deviations) + two equi-joins of the tiny
    * per-type stats back to the rows. Exact `percentile` collects a
    * group's values — bounded here (5 event types × per-type values on
    * one executor each); the 100 TB deployment swaps `approx_percentile`
    * in (same plan shape, sketch-mergeable, no collection) and keeps the
    * final filter — the oracle-checked exact form pins the semantics.
    *
    * Determinism: interpolated exact percentiles over identical doubles
    * agree cross-engine (q35 precedent); the 1.3 threshold on the
    * continuous score has measure-zero boundary risk (unlike rational
    * Jaccard ratios, which concentrate on exact fractions and need
    * integer predicates — the [[Dedup.atLeastJaccard]] rule). */
  val q112 = QueryDef(
    "q112_robust_outliers",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      val med = e.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("d", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(d, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .withColumn("z", col("d") / (lit(1.4826) * col("mad")))
        .filter(col("z") > 1.3)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 6).as("robust_z"))
        .orderBy(col("event_id").asc_nulls_first)
    },
    Some("""WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, abs(e.value - m.med) AS d
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(d, 0.5) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_id, d.event_type, d.value,
           round(d.d / (1.4826 * m.mad), 6) AS robust_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE d.d / (1.4826 * m.mad) > 1.3
    ORDER BY d.event_id ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q113
  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher SIGIR'09) of two
    * retrieval signals: the q104 BM25 lexical top-20 and a corpus-wide
    * length-quality ranking. `RRF(d) = Σ_r 1/(60 + rank_r(d))` — the
    * standard zero-tuning way to merge lexical and dense/quality
    * rankings for retrieval-augmented selection.
    *
    * Ranks, not scores, cross signals — so both rankings go through
    * [[GlobalRank.withRowNumber]] (range-partitioned two-pass rank; the
    * corpus-wide quality rank NEVER plans a single-partition window).
    * The BM25 side ranks a ≤20-row frame; joining it back is a
    * broadcast equi-join. Fused scores are rationals from integer
    * ranks: exact cross-engine doubles, unique per (rank_q, rank_b)
    * pair, so the final top-20 cut is deterministic.
    *
    * Scale: GlobalRank's range exchange over the corpus is the only
    * corpus-sized shuffle; the fusion join is broadcast; final top-20 is
    * TakeOrdered. */
  val q113 = QueryDef(
    "q113_rrf_fusion",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val (qual, _) = GlobalRank.withRowNumber(
        d.select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").desc, col("doc_id").asc), "rank_q")
      val (bmRanked, _) = GlobalRank.withRowNumber(
        TextOps.bm25Top20(d).select(col("doc_id"), col("score_r")),
        Seq(col("score_r").desc, col("doc_id").asc), "rank_b")
      val f = qual
        .join(broadcast(bmRanked.select(col("doc_id"), col("rank_b"))), Seq("doc_id"), "left")
        .withColumn("fscore",
          lit(1.0) / (lit(60.0) + col("rank_q")) +
            coalesce(lit(1.0) / (lit(60.0) + col("rank_b")), lit(0.0)))
      f.orderBy(col("fscore").desc_nulls_last, col("doc_id").asc_nulls_first)
        .limit(20)
        .select(col("doc_id"), col("rank_q"), col("rank_b"),
          round(col("fscore"), 8).as("rrf"))
    },
    Some("""WITH lens AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM lens),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok IN ('hash', 'join', 'scan')
      GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    parts AS (
      SELECT t.doc_id, t.tok,
        ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
          * (t.tf * 2.2)
          / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS wt
      FROM tf t JOIN df d USING (tok) JOIN lens l USING (doc_id)
      CROSS JOIN stats s),
    bm AS (
      SELECT doc_id,
        round(COALESCE(MAX(CASE WHEN tok = 'hash' THEN wt END), 0) +
              COALESCE(MAX(CASE WHEN tok = 'join' THEN wt END), 0) +
              COALESCE(MAX(CASE WHEN tok = 'scan' THEN wt END), 0), 6) AS score_r
      FROM parts GROUP BY doc_id
      ORDER BY score_r DESC NULLS LAST, doc_id ASC NULLS FIRST
      LIMIT 20),
    bmr AS (
      SELECT doc_id,
        row_number() OVER (ORDER BY score_r DESC, doc_id) AS rank_b
      FROM bm),
    qual AS (
      SELECT doc_id,
        row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank_q
      FROM documents),
    f AS (
      SELECT q.doc_id, q.rank_q, b.rank_b,
        1.0 / (60.0 + q.rank_q) + COALESCE(1.0 / (60.0 + b.rank_b), 0.0) AS fscore
      FROM qual q LEFT JOIN bmr b ON q.doc_id = b.doc_id)
    SELECT doc_id, rank_q, rank_b, round(fscore, 8) AS rrf
    FROM f
    ORDER BY fscore DESC NULLS LAST, doc_id ASC NULLS FIRST
    LIMIT 20"""))

  // --------------------------------------------------------------- q114
  /** Pairwise Pearson correlation matrix over lineitem's numeric
    * measures (quantity, extended price, discount) — the feature-drift /
    * redundancy screen a pipeline runs over profile columns. All three
    * correlations come from ONE map-side-combinable aggregate of ten
    * exact sufficient statistics (the q109 trick squared: every pair
    * shares the same single pass); `corr()` itself is rejected for the
    * same reason as `regr_*` — its double accumulation is
    * reduction-order-dependent.
    *
    * Decimal scales are chosen so every product's UNSCALED value fits
    * int64 (DuckDB's narrow multiply path): quantity is integral →
    * scale 0; price is cents, ≤ 1.05e5 → scale 2 (squares ≈ 1.1e14);
    * discount ≤ 0.1 → scale 6 (squares ≈ 1e10). `sqrt` is IEEE
    * exactly-rounded, so identical stats give identical doubles. */
  val q114 = QueryDef(
    "q114_corr_matrix",
    (spark, dir) => {
      val a = col("l_quantity").cast(DecimalType(18, 0))
      val b = col("l_extendedprice").cast(DecimalType(18, 2))
      val c = col("l_discount").cast(DecimalType(18, 6))
      val s = Tables(spark, dir).lineitem.agg(
        count(lit(1)).as("n_rows"),
        count(lit(1)).cast(DoubleType).as("n"),
        sum(a).cast(DoubleType).as("sa"),
        sum(b).cast(DoubleType).as("sb"),
        sum(c).cast(DoubleType).as("sc"),
        sum(a * a).cast(DoubleType).as("saa"),
        sum(b * b).cast(DoubleType).as("sbb"),
        sum(c * c).cast(DoubleType).as("scc"),
        sum(a * b).cast(DoubleType).as("sab"),
        sum(a * c).cast(DoubleType).as("sac"),
        sum(b * c).cast(DoubleType).as("sbc"))
      def corr2(sxy: Column, sx: Column, sy: Column, sxx: Column, syy: Column) =
        (col("n") * sxy - sx * sy) /
          sqrt((col("n") * sxx - sx * sx) * (col("n") * syy - sy * sy))
      s.select(
        col("n_rows"),
        round(corr2(col("sab"), col("sa"), col("sb"), col("saa"), col("sbb")), 6)
          .as("corr_qty_price"),
        round(corr2(col("sac"), col("sa"), col("sc"), col("saa"), col("scc")), 6)
          .as("corr_qty_disc"),
        round(corr2(col("sbc"), col("sb"), col("sc"), col("sbb"), col("scc")), 6)
          .as("corr_price_disc"))
    },
    Some("""WITH s AS (
      SELECT COUNT(*) AS n_rows, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS sa,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sb,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sc,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS saa,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sbb,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,6)) * CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS scc,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sab,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,0)) * CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sac,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sbc
      FROM lineitem)
    SELECT n_rows,
      round((n*sab - sa*sb) / sqrt((n*saa - sa*sa) * (n*sbb - sb*sb)), 6) AS corr_qty_price,
      round((n*sac - sa*sc) / sqrt((n*saa - sa*sa) * (n*scc - sc*sc)), 6) AS corr_qty_disc,
      round((n*sbc - sb*sc) / sqrt((n*sbb - sb*sb) * (n*scc - sc*sc)), 6) AS corr_price_disc
    FROM s"""))

  // --------------------------------------------------------------- q115
  /** Rolling 28-day OLS trend per nation — q109's regression under a
    * sliding event-time frame, the drift-detection form ("is this
    * source's quality slope turning negative this month?").
    *
    * Two-level shape that survives 100 TB: first collapse rows to ONE
    * row per (nation, day) carrying the day's exact partial sums (hash
    * aggregate, map-side combinable — the only row-sized pass), then a
    * `RANGE BETWEEN 27 PRECEDING AND CURRENT ROW` window PARTITIONED BY
    * nation over the tiny daily frame rolls the six statistics. The
    * window input is |groups|×|days| regardless of fact scale, and the
    * range frame is keyed on the integer day so sparse calendars windows
    * correctly (a rows-frame would silently widen past 28 days).
    *
    * Same determinism argument as q109: integral x (days since
    * 1998-01-01), decimal y sums, identical double math; days whose
    * trailing frame has a single distinct x (degenerate regressor) are
    * filtered by the exact integer predicate `n·Σx² − (Σx)² > 0` —
    * integer-valued doubles, no epsilon. */
  /** The q115 window stage over any `(n_name, x, cnt, sy_d)` daily-sums
    * frame — factored out so ScaleProbe can grow the group×day grid
    * independently of the fact table. */
  private[graft] def rollingSlopes(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("n_name")).orderBy(col("x"))
      .rangeBetween(-27, 0)
    val rolled = daily.select(
      col("n_name"), col("x"),
      sum(col("cnt")).over(w).cast(DoubleType).as("n"),
      sum(col("x") * col("cnt")).over(w).cast(DoubleType).as("sx"),
      sum(col("x") * col("x") * col("cnt")).over(w).cast(DoubleType).as("sxx"),
      sum(col("sy_d")).over(w).cast(DoubleType).as("sy"),
      sum(col("x").cast(DecimalType(18, 0)) * col("sy_d")).over(w).cast(DoubleType).as("sxy"))
    rolled
      .filter(col("n") * col("sxx") - col("sx") * col("sx") > 0.0)
      .select(
        col("n_name"), col("x").as("day_x"),
        col("n").cast(LongType).as("n_28d"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope_28d"))
      .orderBy(col("n_name").asc_nulls_first, col("day_x").asc_nulls_first)
  }

  val q115 = QueryDef(
    "q115_rolling_regression",
    (spark, dir) => {
      val t = Tables(spark, dir)
      val pts = t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .select(
          col("n_name"),
          datediff(col("o_orderdate").cast("date"), lit("1998-01-01").cast("date"))
            .cast(LongType).as("x"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("yd"))
      val daily = pts.groupBy(col("n_name"), col("x")).agg(
        count(lit(1)).as("cnt"),
        sum(col("yd")).as("sy_d"))
      rollingSlopes(daily)
    },
    Some("""WITH pts AS (
      SELECT n_name,
        CAST(date_diff('day', DATE '1998-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        CAST(o_totalprice AS DECIMAL(18,2)) AS yd
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey),
    daily AS (
      SELECT n_name, x, COUNT(*) AS cnt, SUM(yd) AS sy_d
      FROM pts GROUP BY n_name, x),
    rolled AS (
      SELECT n_name, x,
        CAST(SUM(cnt) OVER w AS DOUBLE) AS n,
        CAST(SUM(x * cnt) OVER w AS DOUBLE) AS sx,
        CAST(SUM(x * x * cnt) OVER w AS DOUBLE) AS sxx,
        CAST(SUM(sy_d) OVER w AS DOUBLE) AS sy,
        -- narrow casts: DuckDB's decimal multiply errors past combined
        -- width 38; |x| < 10^4 and |sy_d| < 10^18/100 here, both exact
        CAST(SUM(CAST(x AS DECIMAL(8,0)) * CAST(sy_d AS DECIMAL(20,2))) OVER w AS DOUBLE) AS sxy
      FROM daily
      WINDOW w AS (PARTITION BY n_name ORDER BY x
                   RANGE BETWEEN 27 PRECEDING AND CURRENT ROW))
    SELECT n_name, x AS day_x,
      CAST(n AS BIGINT) AS n_28d,
      round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope_28d
    FROM rolled
    WHERE n*sxx - sx*sx > 0.0
    ORDER BY n_name ASC NULLS FIRST, day_x ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q120
  /** Gini concentration of order value per nation — the inequality
    * screen a pipeline runs on source/revenue distributions ("does one
    * customer dominate this segment?"). `G = 2·Σᵢ i·yᵢ / (n·Σy) −
    * (n+1)/n` over each group's values sorted ascending.
    *
    * The rank is a window PARTITIONED by nation (per-group sorts,
    * never global); `Σ i·yᵢ` accumulates as exact decimals — the rank
    * tie-break (o_orderkey) cannot change the result because within a
    * tie block `Σ i·y = y·Σ i` is permutation-invariant, so the output
    * is well-defined even though ranks on ties are not.
    *
    * Scale: one hash exchange on the group key for the window sort, one
    * map-side-combinable aggregate. Group count bounds the output. */
  val q120 = QueryDef(
    "q120_gini",
    (spark, dir) => {
      val t = Tables(spark, dir)
      val pts = t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_orderkey"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("yd"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("yd").asc, col("o_orderkey").asc)
      pts.withColumn("i", row_number().over(w).cast(DecimalType(18, 0)))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          count(lit(1)).cast(DoubleType).as("n"),
          sum(col("yd")).cast(DoubleType).as("sy"),
          sum(col("i") * col("yd")).cast(DoubleType).as("siy"))
        .select(col("n_name"), col("n_orders"),
          round(lit(2.0) * col("siy") / (col("n") * col("sy")) -
            (col("n") + 1.0) / col("n"), 6).as("gini"))
        .orderBy(col("n_name").asc_nulls_first)
    },
    Some("""WITH pts AS (
      SELECT n_name, o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS yd
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey),
    ranked AS (
      SELECT n_name, yd,
        row_number() OVER (PARTITION BY n_name ORDER BY yd, o_orderkey) AS i
      FROM pts),
    s AS (
      SELECT n_name, COUNT(*) AS n_orders, CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(yd) AS DOUBLE) AS sy,
        CAST(SUM(CAST(i AS DECIMAL(8,0)) * CAST(yd AS DECIMAL(20,2))) AS DOUBLE) AS siy
      FROM ranked GROUP BY n_name)
    SELECT n_name, n_orders,
      round(2.0 * siy / (n * sy) - (n + 1.0) / n, 6) AS gini
    FROM s ORDER BY n_name ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q121
  /** Two-proportion z-test on an A/B split of users — "did variant B
    * convert better, and is the lift significant?" The experiment-
    * analysis primitive over the events stream: variant from the md5
    * bucket of the user id (deterministic, reproducible in the oracle —
    * never `rand()`), conversion = the user logged ≥ 14 purchase events
    * (≈ the fixture's per-user purchase mean — "has any purchase" is
    * vacuous here, every user has one, and a constant proportion makes
    * the pooled variance 0, which ANSI mode correctly refuses to divide
    * by; the degenerate case is also guarded to NULL explicitly).
    *
    * All inputs to the statistic are exact integer counts (distinct
    * users / converted users per variant), so the pooled z-score is one
    * identical double expression in both engines. Shape: one
    * aggregate keyed on user (high-cardinality, distributes), then a
    * 2-row variant aggregate pivoted wide — everything map-side
    * combinable, output is ONE row. */
  val q121 = QueryDef(
    "q121_ab_test",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      val perUser = e.groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1).otherwise(0)) >= 14)
          .cast(IntegerType).as("conv"))
        .withColumn("variant", pmod(Det.md5Bucket(col("user_id")), lit(2)))
      val s = perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      val wide = s.agg(
        max(when(col("variant") === 0, col("n_users"))).as("n0"),
        max(when(col("variant") === 0, col("n_conv"))).as("c0"),
        max(when(col("variant") === 1, col("n_users"))).as("n1"),
        max(when(col("variant") === 1, col("n_conv"))).as("c1"))
      val p0 = col("c0").cast(DoubleType) / col("n0")
      val p1 = col("c1").cast(DoubleType) / col("n1")
      val pp = (col("c0") + col("c1")).cast(DoubleType) / (col("n0") + col("n1"))
      val varTerm = pp * (lit(1.0) - pp) * (lit(1.0) / col("n0") + lit(1.0) / col("n1"))
      val z = when(varTerm > 0.0, (p1 - p0) / sqrt(varTerm))
      wide.select(
        col("n0"), col("c0"), col("n1"), col("c1"),
        round(p0, 6).as("p0"), round(p1, 6).as("p1"),
        round(z, 6).as("z"),
        (abs(z) > 1.959964).as("significant"))
    },
    Some("""WITH per_user AS (
      SELECT user_id,
        CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
             THEN 1 ELSE 0 END AS conv,
        CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS INTEGER) % 2
          AS variant
      FROM events GROUP BY user_id),
    s AS (
      SELECT variant, COUNT(*) AS n_users, SUM(conv) AS n_conv
      FROM per_user GROUP BY variant),
    wide AS (
      SELECT
        CAST(MAX(CASE WHEN variant = 0 THEN n_users END) AS BIGINT) AS n0,
        CAST(MAX(CASE WHEN variant = 0 THEN n_conv END) AS BIGINT) AS c0,
        CAST(MAX(CASE WHEN variant = 1 THEN n_users END) AS BIGINT) AS n1,
        CAST(MAX(CASE WHEN variant = 1 THEN n_conv END) AS BIGINT) AS c1
      FROM s),
    stat AS (
      SELECT n0, c0, n1, c1,
        c0 * 1.0 / n0 AS p0, c1 * 1.0 / n1 AS p1,
        ((c0 + c1) * 1.0 / (n0 + n1)) * (1.0 - (c0 + c1) * 1.0 / (n0 + n1))
          * (1.0 / n0 + 1.0 / n1) AS var_term
      FROM wide)
    SELECT n0, c0, n1, c1,
      round(p0, 6) AS p0, round(p1, 6) AS p1,
      round(CASE WHEN var_term > 0.0 THEN (p1 - p0) / sqrt(var_term) END, 6) AS z,
      abs(CASE WHEN var_term > 0.0 THEN (p1 - p0) / sqrt(var_term) END) > 1.959964
        AS significant
    FROM stat"""))

  // --------------------------------------------------------------- q122
  /** Population stability index between the first and second half of
    * the event month — THE production drift alarm ("has this feature's
    * distribution moved since training?"). Value range binned
    * equi-width; `PSI = Σ_bins (pa − pb)·ln(pa/pb)` with Laplace
    * smoothing `(n+1)/(N+B)` so empty bins stay finite and the metric
    * is defined on any split.
    *
    * Output is the per-bin contribution table plus a `bin = -1` total
    * row — the shape an alerting job consumes (threshold the total,
    * attribute to bins). The per-period totals are a 1-row broadcast
    * into the 10-row bin frame (q104's whitelisted tiny-broadcast
    * pattern, PlanSpec cross-product allowed-list); corpus-sized work
    * is the single binning aggregate, map-side combinable. The total
    * row's PSI sums the ROUNDED per-bin contributions through an exact
    * decimal cast, so it equals what a reader of the table would sum. */
  val q122 = QueryDef(
    "q122_psi_drift",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .withColumn("bin",
          least(greatest(floor(col("value") / 50.0).cast(IntegerType), lit(0)), lit(9)))
        .withColumn("period",
          when(dayofmonth(col("ts")) <= 15, lit("a")).otherwise(lit("b")))
      // cut: totals, perBin and the total row all consume `bins`; without
      // it Catalyst replays the corpus binning aggregate per consumer
      val bins = Materialize.cut(e.groupBy(col("bin")).agg(
        sum(when(col("period") === "a", 1).otherwise(0)).as("na"),
        sum(when(col("period") === "b", 1).otherwise(0)).as("nb")))
      val totals = bins.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
      val pa = (col("na") + 1.0) / (col("ta") + 10.0)
      val pb = (col("nb") + 1.0) / (col("tb") + 10.0)
      val perBin = bins.crossJoin(broadcast(totals))
        .select(col("bin"), col("na"), col("nb"),
          round((pa - pb) * log(pa / pb), 6).as("psi"))
      val total = perBin.agg(
        lit(-1).as("bin"), sum(col("na")).as("na"), sum(col("nb")).as("nb"),
        round(sum(col("psi").cast(DecimalType(18, 6)))
          .cast(DoubleType), 6).as("psi"))
      perBin.unionByName(total)
        .orderBy(col("bin").asc_nulls_first)
    },
    Some("""WITH binned AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(value / 50.0) AS INT), 0), 9) AS bin,
        CASE WHEN date_part('day', ts) <= 15 THEN 'a' ELSE 'b' END AS period
      FROM events),
    bins AS (
      SELECT bin,
        SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS na,
        SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS nb
      FROM binned GROUP BY bin),
    totals AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM bins),
    per_bin AS (
      SELECT bin, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        round(((na + 1.0) / (ta + 10.0) - (nb + 1.0) / (tb + 10.0)) *
              ln(((na + 1.0) / (ta + 10.0)) / ((nb + 1.0) / (tb + 10.0))), 6)
          AS psi
      FROM bins CROSS JOIN totals)
    SELECT CAST(bin AS INTEGER) AS bin, na, nb, psi FROM per_bin
    UNION ALL
    SELECT -1 AS bin, CAST(SUM(na) AS BIGINT) AS na, CAST(SUM(nb) AS BIGINT) AS nb,
      round(CAST(SUM(CAST(psi AS DECIMAL(18,6))) AS DOUBLE), 6) AS psi
    FROM per_bin
    ORDER BY bin ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q123
  /** Re-aggregatable distinct-user sketches: per-(type, day) HLL partial
    * sketches (`hll_sketch_agg`, Apache DataSketches) merged across days
    * with `hll_union_agg` into a per-type distinct estimate — THE
    * incremental-maintenance pattern for 100 TB counting: a daily job
    * appends one tiny sketch row per (type, day); any rollup (per type,
    * per week, all-time) is a union over stored sketches and never
    * rescans history. q50's `approx_count_distinct` answers one query;
    * this materializes the mergeable STATE the warehouse keeps.
    *
    * Rows-only by design (sketch estimates are library-specific — q50
    * precedent; the exact distinct surface is oracle-checked by q82 and
    * q09): the spec asserts the merged estimate lands within HLL's
    * error bound of the exact distinct and that merging is
    * order-insensitive (register max-merge is commutative).
    *
    * Scale: one hash aggregate to (type, day) partials — map-side
    * combinable, shuffle carries one ~1 KB sketch per cell, never user
    * ids — then a group-count-sized union. Estimates are deterministic:
    * the register state is a pure function of the input SET. */
  val q123 = QueryDef(
    "q123_sketch_union",
    (spark, dir) => {
      val daily = Tables(spark, dir).events
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      daily.groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("days_merged"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
        .orderBy(col("event_type").asc_nulls_first)
    },
    None,
    twins = Seq("q178_deterministic_hll", "q184_hll_setops"))

  // --------------------------------------------------------------- q178
  /** Deterministic cross-engine HLL — the oracle-CHECKABLE sibling of
    * q123's library sketches. q123 exercises Spark's built-in
    * DataSketches HLL (engine-specific register encoding → rows-only by
    * the declared contract); q178 builds the SAME mergeable-state
    * pattern from first principles so every value hashes across engines:
    *
    *  - per-value hash = md5 of the key (determinism rule 9 — the one
    *    hash both engines share); bucket = first 8 bits, rank = leading
    *    zeros of the next 56 bits + 1, both derived with pure string/
    *    integer ops (regexp strip of leading hex zeros + a 15-way nibble
    *    CASE — no float log2 anywhere);
    *  - daily register pages: max(rank) per (type, day, bucket) — the
    *    tiny mergeable rows a 100 TB warehouse lands instead of user
    *    ids; union = elementwise MAX (commutative/idempotent, so replay
    *    and backfill cannot corrupt it — spec-asserted against a direct
    *    single-pass build);
    *  - the estimate αm·m²/Σ2^(−M[j]) from EXACT integer state: the
    *    harmonic denominator is Σ2^(57−M[j]) summed as DECIMAL(38,0)
    *    (rule 11 — 256·2^57 wraps int64), empty buckets contributing
    *    2^57 each, and the float arithmetic happens on the same exact
    *    integers in both engines with E0 double literals. The standard
    *    small-range branch (raw ≤ 2.5m with empty buckets → linear
    *    counting m·ln(m/zeros)) IS applied: its ln() argument set has
    *    only 255 possible values (m/zeros, zeros ∈ 1..255), and every
    *    one sits ≥ 1.8e-9 away from a 6-dp rounding boundary (spec:
    *    "linear-counting values clear the rounding boundary") — five
    *    orders of magnitude more than any two libm implementations
    *    disagree, so ROUND(·, 6) is provably engine-stable despite the
    *    contract's general ban on cross-engine transcendentals.
    *
    * Scale: one map-side-combinable hash aggregate to (type, day, 256)
    * cells — the shuffle carries registers, never members — then a
    * group-count-sized max-merge and a 256-row-per-type sum. */
  private val hllRankSql: String =
    """CASE WHEN t = '' THEN 57 ELSE (14 - length(t)) * 4 +
      CASE substring(t, 1, 1)
        WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
        WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
        ELSE 0 END + 1 END"""

  private val hllRawSql: String =
    """0.7213E0 / (1.0E0 + 1.079E0 / 256.0E0) * 65536.0E0 *
      CAST(144115188075855872 AS DOUBLE) / CAST(reg_sum AS DOUBLE)"""

  private val hllEstSql: String =
    s"""ROUND(CASE WHEN ($hllRawSql) <= 640.0E0 AND zero_buckets > 0
      THEN 256.0E0 * ln(256.0E0 / CAST(zero_buckets AS DOUBLE))
      ELSE ($hllRawSql) END, 6)"""

  /** Register pages over an arbitrary `(page key..., key)` frame: one
    * (pageKeys..., bucket, max rank) row per touched register — the
    * mergeable unit. `key` must already be the hashed STRING identity
    * (md5 input), so the same builder serves fixtures, specs and laws. */
  private[graft] def hllRegistersOf(df: DataFrame, pageKeys: Seq[String],
      key: String): DataFrame = {
    val h = df.withColumn("h", md5(col(key).cast("string")))
      .withColumn("bucket", expr("CAST(conv(substring(h, 1, 2), 16, 10) AS INT)"))
      .withColumn("t", regexp_replace(expr("substring(h, 3, 14)"), "^0*", ""))
      .withColumn("rank", expr(hllRankSql))
    h.groupBy((pageKeys :+ "bucket").map(col): _*)
      .agg(max(col("rank")).as("m"))
  }

  /** (event_type, day, bucket, m) daily register pages from the events
    * feed — the mergeable unit. */
  private[graft] def hllDailyRegisters(spark: SparkSession, dir: String): DataFrame =
    hllRegistersOf(
      Tables(spark, dir).events
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id")),
      Seq("event_type", "day"), "user_id")

  /** Register pages → the per-type gauge: max-merge to one register set
    * per type, exact harmonic state, two-branch estimate. Shared by
    * q178 (pages built from the full feed) and q181 (stored pages + one
    * pruned-partition delta page) — the IVM pair's common finishing
    * stage, so the two queries cannot drift. CALLERS CUT the pages
    * frame first (cut-per-consumer rule): this stage consumes it twice
    * (register merge + day count), and an uncut feed-derived page frame
    * would re-scan its corpus for each consumer. */
  private[graft] def hllGaugeOf(pages: DataFrame): DataFrame = {
    val merged = pages.groupBy(col("event_type"), col("bucket"))
      .agg(max(col("m")).as("m"))
    val days = pages.select(col("event_type"), col("day")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("days_merged"))
    merged.groupBy(col("event_type"))
      .agg(
        count(lit(1)).cast(IntegerType).as("present_buckets"),
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 57 - m) AS DECIMAL(38,0))"))
          .as("s_present"))
      .withColumn("zero_buckets", (lit(256) - col("present_buckets")).cast(IntegerType))
      .withColumn("reg_sum",
        col("s_present") + col("zero_buckets").cast(DecimalType(38, 0)) *
          expr("CAST(144115188075855872 AS DECIMAL(38,0))"))
      .join(days, "event_type")
      .select(col("event_type"), col("days_merged"),
        col("present_buckets"), col("zero_buckets"),
        expr(hllEstSql).as("est_users"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  val q178 = QueryDef(
    "q178_deterministic_hll",
    // pages cut before the two-consumer finishing stage: ONE feed scan
    // builds the ≤ types×days×256-row page frame, the gauge reads the
    // materialization twice
    (spark, dir) => hllGaugeOf(graft.Materialize.cut(hllDailyRegisters(spark, dir))),
    Some(s"""WITH h AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        md5(CAST(user_id AS VARCHAR)) AS h
      FROM events),
    r AS (
      SELECT event_type, day,
        CAST(('0x' || substr(h, 1, 2)) AS INTEGER) AS bucket,
        regexp_replace(substr(h, 3, 14), '^0*', '') AS t
      FROM h),
    daily AS (
      SELECT event_type, day, bucket,
        MAX($hllRankSql) AS m
      FROM r GROUP BY event_type, day, bucket),
    merged AS (
      SELECT event_type, bucket, MAX(m) AS m
      FROM daily GROUP BY event_type, bucket),
    stats AS (
      SELECT event_type,
        CAST(COUNT(*) AS INT) AS present_buckets,
        CAST(256 - COUNT(*) AS INT) AS zero_buckets,
        SUM((CAST(1 AS BIGINT) << (57 - m))::HUGEINT)
          + (256 - COUNT(*))::HUGEINT * 144115188075855872::HUGEINT AS reg_sum
      FROM merged GROUP BY event_type),
    days AS (
      SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT) AS days_merged
      FROM daily GROUP BY event_type)
    SELECT s.event_type, d.days_merged, s.present_buckets, s.zero_buckets,
      $hllEstSql AS est_users
    FROM stats s JOIN days d ON s.event_type = d.event_type
    ORDER BY s.event_type ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q184
  /** Deterministic-HLL register stats over arbitrary page keys: present/
    * zero bucket counts, the exact DECIMAL(38,0) harmonic denominator and
    * the two-branch estimate — q178's finishing math factored so set
    *-algebra consumers (q184) can run it per PAIR as well as per type. */
  private[graft] def hllStatsOf(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).cast(IntegerType).as("present_buckets"),
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 57 - m) AS DECIMAL(38,0))"))
          .as("s_present"))
      .withColumn("zero_buckets", (lit(256) - col("present_buckets")).cast(IntegerType))
      .withColumn("reg_sum",
        col("s_present") + col("zero_buckets").cast(DecimalType(38, 0)) *
          expr("CAST(144115188075855872 AS DECIMAL(38,0))"))
      .withColumn("est", expr(hllEstSql))
      .drop("s_present")

  /** Sketch set algebra over the deterministic registers — union and
    * intersection cardinality estimates for every event-type PAIR, with
    * the exact overlap beside them. The register union of two sets is
    * the elementwise max of their register pages (the same merge law
    * q178/q181 prove), so |A ∪ B| is estimable from state alone —
    * without re-touching the feed — and |A ∩ B| follows by inclusion–
    * exclusion: est(A) + est(B) − est(A∪B). That subtraction is the
    * textbook HLL intersection (error grows as the true overlap
    * shrinks), which is exactly why the exact count sits in the next
    * column: this is the audience-overlap / cross-feed-containment
    * report, with its own error made visible.
    *
    * Determinism: every estimate is q178's two-branch formula over
    * exact integer register state, identical in both engines; the
    * intersection is one fixed-shape float expression over those
    * already-ROUND(,6)-stable estimates, re-rounded at 6 dp.
    *
    * Scale: the feed is touched exactly twice — once map-side-combined
    * into ≤ types×256 register rows (cut: the pair grid consumes them
    * three ways), once for the exact-overlap twin (distinct (type,
    * user) then a user-keyed self equi-join whose per-user fan-out is
    * ≤ |types|², never corpus-quadratic). The pair grid itself is a
    * deliberate |types|² dimension cross (q16/q149's whitelisted
    * class); every register join is a broadcast. At 100 TB the
    * register pages ARE the stored state (q181), so this report runs
    * entirely off ~KBs of sketch state plus one overlap join. */
  /** The pair-estimate stage of q184, running ENTIRELY off a register
    * frame `(event_type, bucket, m)` — no feed access. This is the
    * 100 TB shape: once the pages are stored state (q181), every
    * union/intersection estimate in the pair grid is computable from
    * ~KBs, and ScaleProbe's `setops` mode times exactly this function
    * to show the report cost is feed-size-INDEPENDENT. Callers cut
    * `regs` (three consumers: type stats, two pair-tag joins). */
  private[graft] def hllPairEstimates(regs: DataFrame): DataFrame = {
    val types = regs.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("t1"))
      .crossJoin(types.select(col("event_type").as("t2")))
      .filter(col("t1") < col("t2"))
    val unionRegs = pairs
      .join(regs.select(col("event_type").as("t1"), col("bucket"), col("m")), Seq("t1"))
      .unionByName(pairs
        .join(regs.select(col("event_type").as("t2"), col("bucket"), col("m")), Seq("t2"))
        .select(col("t1"), col("t2"), col("bucket"), col("m")))
      .groupBy(col("t1"), col("t2"), col("bucket"))
      .agg(max(col("m")).as("m"))
    val typeStats = hllStatsOf(regs, Seq("event_type"))
    val unionStats = hllStatsOf(unionRegs, Seq("t1", "t2"))
      .select(col("t1"), col("t2"), col("est").as("est_union"))
    pairs
      .join(broadcast(typeStats.select(col("event_type").as("t1"),
        col("est").as("est_t1"))), Seq("t1"))
      .join(broadcast(typeStats.select(col("event_type").as("t2"),
        col("est").as("est_t2"))), Seq("t2"))
      .join(broadcast(unionStats), Seq("t1", "t2"))
      .select(col("t1"), col("t2"), col("est_t1"), col("est_t2"),
        col("est_union"),
        round(col("est_t1") + col("est_t2") - col("est_union"), 6)
          .as("est_overlap"))
  }

  val q184 = QueryDef(
    "q184_hll_setops",
    (spark, dir) => {
      val regs = graft.Materialize.cut(hllRegistersOf(
        Tables(spark, dir).events.select(col("event_type"), col("user_id")),
        Seq("event_type"), "user_id"))
      val tu = graft.Materialize.cut(
        Tables(spark, dir).events.select(col("event_type"), col("user_id")).distinct())
      val exactBoth = tu.select(col("event_type").as("t1"), col("user_id"))
        .join(tu.select(col("event_type").as("t2"), col("user_id")), Seq("user_id"))
        .filter(col("t1") < col("t2"))
        .groupBy(col("t1"), col("t2"))
        .agg(count(lit(1)).as("exact_both"))
      hllPairEstimates(regs)
        .join(exactBoth, Seq("t1", "t2"), "left")
        .select(col("t1"), col("t2"), col("est_t1"), col("est_t2"),
          col("est_union"), col("est_overlap"),
          coalesce(col("exact_both"), lit(0L)).as("exact_both"))
        .orderBy(col("t1"), col("t2"))
    },
    Some(s"""WITH h AS (
      SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
    r AS (
      SELECT event_type,
        CAST(('0x' || substr(h, 1, 2)) AS INTEGER) AS bucket,
        regexp_replace(substr(h, 3, 14), '^0*', '') AS t
      FROM h),
    regs AS (
      SELECT event_type, bucket, MAX($hllRankSql) AS m
      FROM r GROUP BY event_type, bucket),
    types AS (SELECT DISTINCT event_type FROM regs),
    pairs AS (
      SELECT a.event_type AS t1, b.event_type AS t2
      FROM types a JOIN types b ON a.event_type < b.event_type),
    ur AS (
      SELECT p.t1, p.t2, g.bucket, MAX(g.m) AS m
      FROM pairs p JOIN regs g
        ON g.event_type = p.t1 OR g.event_type = p.t2
      GROUP BY p.t1, p.t2, g.bucket),
    tstats AS (
      SELECT event_type,
        CAST(256 - COUNT(*) AS INT) AS zero_buckets,
        SUM((CAST(1 AS BIGINT) << (57 - m))::HUGEINT)
          + (256 - COUNT(*))::HUGEINT * 144115188075855872::HUGEINT AS reg_sum
      FROM regs GROUP BY event_type),
    test AS (
      SELECT event_type, $hllEstSql AS est FROM tstats),
    ustats AS (
      SELECT t1, t2,
        CAST(256 - COUNT(*) AS INT) AS zero_buckets,
        SUM((CAST(1 AS BIGINT) << (57 - m))::HUGEINT)
          + (256 - COUNT(*))::HUGEINT * 144115188075855872::HUGEINT AS reg_sum
      FROM ur GROUP BY t1, t2),
    uest AS (
      SELECT t1, t2, $hllEstSql AS est_union FROM ustats),
    tu AS (SELECT DISTINCT event_type, user_id FROM events),
    exact AS (
      SELECT x.event_type AS t1, y.event_type AS t2, COUNT(*) AS exact_both
      FROM tu x JOIN tu y
        ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY 1, 2)
    SELECT p.t1, p.t2, a.est AS est_t1, b.est AS est_t2, u.est_union,
      ROUND(a.est + b.est - u.est_union, 6) AS est_overlap,
      CAST(COALESCE(e.exact_both, 0) AS BIGINT) AS exact_both
    FROM pairs p
    JOIN test a ON a.event_type = p.t1
    JOIN test b ON b.event_type = p.t2
    JOIN uest u ON u.t1 = p.t1 AND u.t2 = p.t2
    LEFT JOIN exact e ON e.t1 = p.t1 AND e.t2 = p.t2
    ORDER BY p.t1, p.t2"""))

  // --------------------------------------------------------------- q124
  /** Equi-DEPTH histogram of order value — decile cells each holding
    * n/10 rows, the quantile-profiling dual of q111's equi-width bins
    * (equi-width answers "how much mass per value range", equi-depth
    * "what value range per mass decile" — the form feeding monotone
    * binning, spend tiering and drift baselines).
    *
    * The decile boundary is NOT an interpolated percentile compared
    * against values (a boundary can land exactly ON a data value —
    * knife-edge float equality, contract rule 5); it is integer
    * arithmetic on the global row number: `bin = (rank−1)·10 div n`.
    * Exactly n%10 bins get the extra row, ntile's ANSI split
    * ([[GlobalRank.ntileFromRank]] precedent).
    *
    * Scale: the global total-order rank is [[GlobalRank.withRowNumber]]
    * (range-partitioned two-pass — never a SinglePartition window, the
    * workload PlanSpec guard), then one map-side-combinable aggregate
    * to 10 cells. */
  val q124 = QueryDef(
    "q124_equidepth_hist",
    (spark, dir) => {
      val o = Tables(spark, dir).orders.select(col("o_orderkey"), col("o_totalprice"))
      val (ranked, n) = GlobalRank.withRowNumber(
        o, Seq(col("o_totalprice").asc, col("o_orderkey").asc), "r")
      ranked
        .withColumn("decile", expr(s"CAST(((r - 1) * 10) DIV ${n}L AS INT)"))
        .groupBy(col("decile"))
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("decile").asc_nulls_first)
    },
    Some(s"""WITH ranked AS (
      SELECT o_totalprice,
        row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS r,
        COUNT(*) OVER () AS n
      FROM orders)
    SELECT CAST(((r - 1) * 10) // n AS INT) AS decile,
      COUNT(*) AS n_rows,
      MIN(o_totalprice) AS min_price,
      MAX(o_totalprice) AS max_price,
      ${sqlDsum("o_totalprice")} AS sum_price
    FROM ranked
    GROUP BY 1
    ORDER BY decile ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q125
  /** Chi-square independence test on the segment × priority contingency
    * table — "does order priority depend on market segment?", the
    * categorical-drift / association screen next to q122's numeric PSI.
    * Output is the analyst's table: every cell with its observed count,
    * expected count under independence (row·col/N) and χ² contribution,
    * plus an ('ALL','ALL') total row carrying the statistic.
    *
    * Every input to the math is an exact integer count, so expected
    * counts and contributions are identical doubles cross-engine; the
    * total row sums the ROUNDED per-cell contributions through an exact
    * decimal cast (q122's total-row rule — the statistic equals what a
    * reader of the table would sum).
    *
    * Scale: ONE corpus-sized hash aggregate to |segments|×|priorities|
    * cells; margins are re-aggregates OF THE CELLS (never a second
    * corpus pass) equi-broadcast back, and the 1-row N total is the
    * q122-whitelisted tiny cross join. */
  val q125 = QueryDef(
    "q125_chi_square",
    (spark, dir) => {
      val t = Tables(spark, dir)
      // the cut makes "margins re-aggregate the CELLS" true in the
      // EXECUTED plan too: without it Catalyst replays the corpus
      // join+aggregate once per margin consumer (4 fact passes)
      val cells = Materialize.cut(t.orders
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_obs")))
      val rowTot = cells.groupBy(col("c_mktsegment")).agg(sum(col("n_obs")).as("rt"))
      val colTot = cells.groupBy(col("o_orderpriority")).agg(sum(col("n_obs")).as("ct"))
      val grand = cells.agg(sum(col("n_obs")).as("gt"))
      val e = col("rt").cast(DoubleType) * col("ct") / col("gt")
      val contrib = (col("n_obs") - e) * (col("n_obs") - e) / e
      val perCell = cells
        .join(broadcast(rowTot), "c_mktsegment")
        .join(broadcast(colTot), "o_orderpriority")
        .crossJoin(broadcast(grand))
        .select(col("c_mktsegment"), col("o_orderpriority"), col("n_obs"),
          round(e, 6).as("exp_n"), round(contrib, 6).as("chi2_part"))
      val total = perCell.agg(
        lit("ALL").as("c_mktsegment"), lit("ALL").as("o_orderpriority"),
        sum(col("n_obs")).as("n_obs"),
        lit(null).cast(DoubleType).as("exp_n"),
        round(sum(col("chi2_part").cast(DecimalType(18, 6))).cast(DoubleType), 6)
          .as("chi2_part"))
      perCell.unionByName(total)
        .orderBy(col("c_mktsegment").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },
    Some("""WITH cells AS (
      SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_obs
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    rt AS (SELECT c_mktsegment, SUM(n_obs) AS rt FROM cells GROUP BY 1),
    ct AS (SELECT o_orderpriority, SUM(n_obs) AS ct FROM cells GROUP BY 1),
    gt AS (SELECT SUM(n_obs) AS gt FROM cells),
    per_cell AS (
      SELECT c.c_mktsegment, c.o_orderpriority,
        CAST(c.n_obs AS BIGINT) AS n_obs,
        round(CAST(r.rt AS DOUBLE) * t.ct / g.gt, 6) AS exp_n,
        round((c.n_obs - CAST(r.rt AS DOUBLE) * t.ct / g.gt)
            * (c.n_obs - CAST(r.rt AS DOUBLE) * t.ct / g.gt)
            / (CAST(r.rt AS DOUBLE) * t.ct / g.gt), 6) AS chi2_part
      FROM cells c
      JOIN rt r USING (c_mktsegment)
      JOIN ct t USING (o_orderpriority)
      CROSS JOIN gt g)
    SELECT c_mktsegment, o_orderpriority, n_obs, exp_n, chi2_part FROM per_cell
    UNION ALL
    SELECT 'ALL' AS c_mktsegment, 'ALL' AS o_orderpriority,
      CAST(SUM(n_obs) AS BIGINT) AS n_obs,
      CAST(NULL AS DOUBLE) AS exp_n,
      round(CAST(SUM(CAST(chi2_part AS DECIMAL(18,6))) AS DOUBLE), 6) AS chi2_part
    FROM per_cell
    ORDER BY c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q126
  /** Seasonal-baseline anomaly profile: each event scores against the
    * MEDIAN of its own (event_type, day-of-week) cell — "is Tuesday's
    * checkout latency hot relative to NORMAL Tuesdays?" — the
    * seasonality-aware twin of q112's global-per-type screen (a weekly
    * cycle turns a naive global baseline into a false-alarm generator).
    * Output: per-cell volume, median baseline, count and rate of events
    * exceeding baseline + 150.
    *
    * Shape: one hash aggregate to the 5×7 cell grid (exact percentile —
    * bounded per-cell collection, q112's documented approx_percentile
    * swap at corpus scale), broadcast back, one counting re-aggregate.
    * Determinism: q112's rules — interpolated exact percentiles agree
    * cross-engine on identical doubles; the +150 threshold on a
    * continuous value has measure-zero boundary risk; counts and their
    * ratio are exact integers divided once. Spark's `dayofweek` is
    * 1-based Sunday, DuckDB's `dow` 0-based Sunday — the engine emits
    * `dayofweek − 1` so both sides speak the 0=Sunday convention. */
  val q126 = QueryDef(
    "q126_seasonal_outliers",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("event_type"),
          (dayofweek(col("ts")) - 1).cast(IntegerType).as("dow"),
          col("value"))
      val base = e.groupBy(col("event_type"), col("dow"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      e.join(broadcast(base), Seq("event_type", "dow"))
        .groupBy(col("event_type"), col("dow"))
        .agg(
          count(lit(1)).as("n_events"),
          round(max(col("med")), 6).as("med_value"),
          sum(when(col("value") > col("med") + 150.0, 1L).otherwise(0L)).as("n_hot"))
        .withColumn("hot_rate",
          round(col("n_hot").cast(DoubleType) / col("n_events"), 6))
        .orderBy(col("event_type").asc_nulls_first, col("dow").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT event_type, CAST(date_part('dow', ts) AS INT) AS dow, value
      FROM events),
    base AS (
      SELECT event_type, dow, quantile_cont(value, 0.5) AS med
      FROM e GROUP BY 1, 2)
    SELECT e.event_type, e.dow,
      COUNT(*) AS n_events,
      round(MAX(b.med), 6) AS med_value,
      CAST(SUM(CASE WHEN e.value > b.med + 150.0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_hot,
      round(CAST(SUM(CASE WHEN e.value > b.med + 150.0 THEN 1 ELSE 0 END)
          AS DOUBLE) / COUNT(*), 6) AS hot_rate
    FROM e JOIN base b USING (event_type, dow)
    GROUP BY 1, 2
    ORDER BY event_type ASC NULLS FIRST, dow ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q127
  /** PageRank over the nation-level trade graph — "which trade hub is
    * structurally central?", the canonical iterative graph computation
    * (q55's label propagation is the other): nodes are nations, a
    * directed edge src→dst weighs how many lineitems customers of `src`
    * bought from suppliers of `dst`, and rank flows along transition
    * probabilities with damping 0.85 for five rounds.
    *
    * Determinism is the interesting part: textbook PageRank sums double
    * contributions across in-edges — reduction-order-dependent, the
    * exact failure mode [[Det]] exists for. Here EVERYTHING is 64-bit
    * fixed-point integer arithmetic in nano-units (SCALE = 10⁹):
    * transition probability `pw = w·SCALE div out_w`, contribution
    * `r·pw div SCALE`, update `0.15·SCALE div n + 85·Σc div 100` — all
    * truncating integer ops both engines define identically, so five
    * rounds reproduce bit-exactly under any partitioning (the oracle
    * unrolls the five rounds as CTE layers). Bounds: r ≤ SCALE and
    * pw ≤ SCALE keep every product ≤ 10¹⁸ < 2⁶³ (at an edge-weight
    * scale where `w·SCALE` itself would overflow, pre-divide w and
    * out_w by a common factor — the probabilities are scale-free).
    *
    * Scale: the corpus-sized work is ONE edge aggregation (lineitem ⋈
    * orders shuffle join; nation dims broadcast) collapsing 100 TB of
    * facts to |nations|² edge rows, materialized once
    * ([[graft.Materialize.cut]] — five iterations must not replay the
    * fact scan); each round is then an equi-join + aggregate over the
    * tiny edge/rank frames (AQE broadcasts them). Rank never leaves the
    * cluster; n (= 25, the nation dim) is the only driver scalar, the
    * bounded-model-state pattern (q60 centroids, GlobalRank offsets). */
  private val PrScale = 1000000000L

  /** The q127 corpus stage: collapse the fact tables to the weighted
    * |nations|² edge list — factored so ScaleProbe can grow the fact
    * side independently of the iteration stage. */
  private[graft] def tradeEdges(lineitem: DataFrame, orders: DataFrame,
      cust: DataFrame, supp: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))

  /** The weighted nation-trade edge list as a MEMOIZED materialized view
    * (round-17 optimization; the [[coPurchaseEdges]] convention): q127
    * (PageRank) and q206 (HITS) analyze the SAME |nations|² graph, and
    * the collapse of the fact tables to it — the lineitem ⋈ orders
    * shuffle join — is the only corpus-sized stage in either query.
    * Computing it twice per session was pure repeated work; the bench
    * times the build itself as the `view_trade_edges` line item
    * (invalidate + recompute), keeping the pipeline inside the baseline
    * contract. */
  private[graft] val tradeEdgesView = graft.View("trade_edges") { (spark, dir) =>
    val t = Tables(spark, dir)
    val nat = t.nation.select(col("n_nationkey"), col("n_name"))
    val cust = t.customer.join(broadcast(nat),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("src"))
    val supp = t.supplier.join(broadcast(nat),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("dst"))
    Materialize.cut(tradeEdges(t.lineitem, t.orders, cust, supp))
  }

  /** The q127 iteration stage over a materialized edge frame: five
    * damped fixed-point rounds, edge-sized work per round. */
  private[graft] def pageRankOnEdges(edges: DataFrame, nodes: DataFrame,
      n: Long): DataFrame = {
    // Round-17: every frame in the iteration is |nations|-bounded by
    // construction (nodes, rank and contrib are ≤ n rows; outw ≤ n) —
    // the nation dimension is a CLOSED set, so the broadcast hints are
    // scale-safe at any corpus size, and they collapse each round from
    // a planned SMJ (3 exchanges of tiny frames, 5×) to a map-side
    // lookup over the materialized ≤ n² edge checkpoint.
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val pe = Materialize.cut(edges.join(broadcast(outw), "src")
      .select(col("src"), col("dst"), expr(s"(w * ${PrScale}L) div ow").as("pw")))
    val base = (15L * PrScale / 100L) / n
    var rank = nodes.withColumn("r", lit(PrScale / n))
    for (_ <- 1 to 5) {
      val contrib = pe.join(broadcast(rank), pe("src") === rank("node"))
        .select(col("dst"), expr(s"(pw * r) div ${PrScale}L").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      rank = nodes.join(broadcast(contrib), nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(sc, 0L)) div 100")).as("r"))
    }
    rank
  }

  val q127 = QueryDef(
    "q127_pagerank",
    (spark, dir) => {
      val t = Tables(spark, dir)
      val nat = t.nation.select(col("n_nationkey"), col("n_name"))
      val n = nat.count()
      val edges = tradeEdgesView(spark, dir)
      val nodes = nat.select(col("n_name").as("node"))
      pageRankOnEdges(edges, nodes, n)
        .select(col("node").as("n_name"), col("r").as("rank_ppb"),
          round(col("r") / lit(1000000000.0), 9).as("pagerank"))
        .orderBy(col("rank_ppb").desc_nulls_last, col("n_name").asc_nulls_first)
    },
    Some("""WITH cust AS (
      SELECT c_custkey, n_name AS src FROM customer
      JOIN nation ON c_nationkey = n_nationkey),
    supp AS (
      SELECT s_suppkey, n_name AS dst FROM supplier
      JOIN nation ON s_nationkey = n_nationkey),
    edges AS (
      SELECT src, dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN cust ON o_custkey = c_custkey
      JOIN supp ON l_suppkey = s_suppkey
      GROUP BY 1, 2),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
    pe AS (
      SELECT e.src, e.dst, (e.w * 1000000000) // o.ow AS pw
      FROM edges e JOIN outw o USING (src)),
    nn AS (SELECT COUNT(*) AS n FROM nation),
    r0 AS (
      SELECT n_name AS node, 1000000000 // (SELECT n FROM nn) AS r
      FROM nation),
    r1 AS (
      SELECT b.n_name AS node,
        150000000 // (SELECT n FROM nn) +
        (85 * COALESCE(CAST(SUM((p.pw * r.r) // 1000000000) AS BIGINT), 0)) // 100 AS r
      FROM nation b
      LEFT JOIN pe p ON p.dst = b.n_name
      LEFT JOIN r0 r ON r.node = p.src
      GROUP BY 1),
    r2 AS (
      SELECT b.n_name AS node,
        150000000 // (SELECT n FROM nn) +
        (85 * COALESCE(CAST(SUM((p.pw * r.r) // 1000000000) AS BIGINT), 0)) // 100 AS r
      FROM nation b
      LEFT JOIN pe p ON p.dst = b.n_name
      LEFT JOIN r1 r ON r.node = p.src
      GROUP BY 1),
    r3 AS (
      SELECT b.n_name AS node,
        150000000 // (SELECT n FROM nn) +
        (85 * COALESCE(CAST(SUM((p.pw * r.r) // 1000000000) AS BIGINT), 0)) // 100 AS r
      FROM nation b
      LEFT JOIN pe p ON p.dst = b.n_name
      LEFT JOIN r2 r ON r.node = p.src
      GROUP BY 1),
    r4 AS (
      SELECT b.n_name AS node,
        150000000 // (SELECT n FROM nn) +
        (85 * COALESCE(CAST(SUM((p.pw * r.r) // 1000000000) AS BIGINT), 0)) // 100 AS r
      FROM nation b
      LEFT JOIN pe p ON p.dst = b.n_name
      LEFT JOIN r3 r ON r.node = p.src
      GROUP BY 1),
    r5 AS (
      SELECT b.n_name AS node,
        150000000 // (SELECT n FROM nn) +
        (85 * COALESCE(CAST(SUM((p.pw * r.r) // 1000000000) AS BIGINT), 0)) // 100 AS r
      FROM nation b
      LEFT JOIN pe p ON p.dst = b.n_name
      LEFT JOIN r4 r ON r.node = p.src
      GROUP BY 1)
    SELECT node AS n_name, CAST(r AS BIGINT) AS rank_ppb,
      round(r / 1000000000.0, 9) AS pagerank
    FROM r5
    ORDER BY rank_ppb DESC NULLS LAST, n_name ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q128
  /** Declarative data-quality constraint report (the Deequ pattern): a
    * rule suite — completeness, value domains, ranges, key uniqueness,
    * referential integrity — evaluated over the landing tables into the
    * audit artifact a pipeline gates a publish on: one row per rule
    * with checked/violation counts and a pass verdict.
    *
    * Shape: ALL of a table's row-local rules fold into ONE conditional
    * aggregate over one scan (`stack` unpivots the 1-row result to rule
    * rows — never one pass per rule); uniqueness rides the same
    * aggregate as `count − countDistinct`; each referential rule is one
    * left join counting null probes (violations and n_checked from the
    * same pass — no separate anti join + count). Everything is exact
    * integer counts: deterministic at any parallelism.
    *
    * A NULL in a domain/range column counts as a violation of that rule
    * (completeness folded into the predicate), so `NOT IN`'s null
    * semantics can't silently pass bad rows. */
  /** The q128 rule engine over arbitrary frames — factored so the spec
    * can feed deliberately corrupted copies. */
  private[graft] def dqReport(orders: DataFrame, lineitem: DataFrame,
      customer: DataFrame): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val oAgg = orders.agg(
      count(lit(1)).as("n"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_cust"),
      sum(when(col("o_orderpriority").isNull ||
        !col("o_orderpriority").isin(prios: _*), 1L).otherwise(0L)).as("v_prio"),
      sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0.0, 1L)
        .otherwise(0L)).as("v_price"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uniq"))
    val oRules = oAgg.select(lit("orders").as("tbl"), col("n").as("n_checked"),
      expr("""stack(4,
        'completeness_custkey', v_cust,
        'domain_orderpriority', v_prio,
        'range_totalprice_positive', v_price,
        'unique_orderkey', v_uniq) AS (rule, n_violations)"""))
    val lAgg = lineitem.agg(
      count(lit(1)).as("n"),
      sum(when(col("l_quantity").isNull || col("l_quantity") < 1.0 ||
        col("l_quantity") > 50.0, 1L).otherwise(0L)).as("v_qty"),
      sum(when(col("l_discount").isNull || col("l_discount") < 0.0 ||
        col("l_discount") > 0.1, 1L).otherwise(0L)).as("v_disc"),
      sum(when(col("l_extendedprice").isNull || col("l_extendedprice") <= 0.0, 1L)
        .otherwise(0L)).as("v_eprice"))
    val lRules = lAgg.select(lit("lineitem").as("tbl"), col("n").as("n_checked"),
      expr("""stack(3,
        'range_discount_0_10pct', v_disc,
        'range_extendedprice_positive', v_eprice,
        'range_quantity_1_50', v_qty) AS (rule, n_violations)"""))
    // parent side deduped: a corrupt parent with duplicate keys must
    // surface in ITS uniqueness rule, not fan out the child's probe count
    val ri1 = lineitem.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")).dropDuplicates("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_violations"))
      .select(lit("lineitem").as("tbl"), col("n_checked"),
        lit("ref_orderkey_in_orders").as("rule"), col("n_violations"))
    val ri2 = orders.select(col("o_custkey"))
      .join(customer.select(col("c_custkey")).dropDuplicates("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_violations"))
      .select(lit("orders").as("tbl"), col("n_checked"),
        lit("ref_custkey_in_customer").as("rule"), col("n_violations"))
    oRules.unionByName(lRules).unionByName(ri1).unionByName(ri2)
      .select(col("tbl"), col("rule"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
      .orderBy(col("tbl").asc_nulls_first, col("rule").asc_nulls_first)
  }

  val q128 = QueryDef(
    "q128_dq_report",
    (spark, dir) => {
      val t = Tables(spark, dir)
      dqReport(t.orders, t.lineitem, t.customer)
    },
    Some("""WITH o AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_cust,
        CAST(SUM(CASE WHEN o_orderpriority IS NULL OR o_orderpriority NOT IN
          ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
          THEN 1 ELSE 0 END) AS BIGINT) AS v_prio,
        CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0.0
          THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
        COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_uniq
      FROM orders),
    l AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 50.0
          THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
        CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.1
          THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
        CAST(SUM(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0.0
          THEN 1 ELSE 0 END) AS BIGINT) AS v_eprice
      FROM lineitem),
    rules AS (
      SELECT 'orders' AS tbl, 'completeness_custkey' AS rule, n AS n_checked, v_cust AS n_violations FROM o
      UNION ALL SELECT 'orders', 'domain_orderpriority', n, v_prio FROM o
      UNION ALL SELECT 'orders', 'range_totalprice_positive', n, v_price FROM o
      UNION ALL SELECT 'orders', 'unique_orderkey', n, v_uniq FROM o
      UNION ALL SELECT 'lineitem', 'range_discount_0_10pct', n, v_disc FROM l
      UNION ALL SELECT 'lineitem', 'range_extendedprice_positive', n, v_eprice FROM l
      UNION ALL SELECT 'lineitem', 'range_quantity_1_50', n, v_qty FROM l
      UNION ALL
      SELECT 'lineitem', 'ref_orderkey_in_orders', COUNT(*),
        CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem li
      LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON li.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orders', 'ref_custkey_in_customer', COUNT(*),
        CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders od
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON od.o_custkey = c.c_custkey)
    SELECT tbl, rule, n_checked, n_violations, n_violations = 0 AS pass
    FROM rules
    ORDER BY tbl ASC NULLS FIRST, rule ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q131
  /** Order-independent table checksums — the reconciliation primitive
    * for a 100 TB migration/replication: both sides compute one
    * (n_rows, fingerprint) row per table from a single scan and compare;
    * any divergent row flips the fingerprint. XOR of per-row hashes is
    * the aggregate: commutative/associative (partitioning-independent,
    * map-side combinable), overflow-free, and O(1) state — the shape a
    * fleet-wide parity check must have.
    *
    * Cross-engine determinism of the ROW serialization is the whole
    * design: md5 over a canonical `|`-joined string (the contract's
    * hash — never xxhash), 15 hex chars → a positive 60-bit BIGINT.
    * Every column enters in a form both engines print identically —
    * integers as-is, monetary/ratio doubles as ROUNDed integer
    * cents/percents (raw double formatting differs across engines),
    * timestamps as DATE strings.
    *
    * Caveat, stated honestly: XOR cancels EVEN multiplicities (a row
    * duplicated twice fingerprints like the row being absent), so the
    * reconciliation unit is the (n_rows, checksum) PAIR — the count
    * catches what parity hides. Spec-asserted. */
  /** 60-bit md5-prefix row hash of a canonical serialization. */
  private[graft] def rowHash60(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast(LongType)

  /** Monetary/ratio double as exact integer cents (both engines ROUND
    * identically — the value is 2-dp, never near a half boundary). */
  private def cents(c: Column): Column = round(c * 100, 0).cast(LongType)

  /** One (tbl, n_rows, checksum) fingerprint row: XOR of row hashes —
    * factored so the spec can drive permutation/sensitivity cases. */
  private[graft] def tableFingerprint(name: String, df: DataFrame,
      ser: Column): DataFrame =
    df.select(rowHash60(ser).as("hh"))
      .agg(lit(name).as("tbl"), count(lit(1)).as("n_rows"),
        expr("bit_xor(hh)").as("checksum"))

  val q131 = QueryDef(
    "q131_table_checksum",
    (spark, dir) => {
      val t = Tables(spark, dir)
      val sum1 = tableFingerprint _
      val o = sum1("orders", t.orders, concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        cents(col("o_totalprice")), col("o_orderdate").cast("date"),
        col("o_orderpriority")))
      val l = sum1("lineitem", t.lineitem, concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        round(col("l_quantity"), 0).cast(LongType), cents(col("l_extendedprice")),
        cents(col("l_discount")), cents(col("l_tax")),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate").cast("date")))
      val c = sum1("customer", t.customer, concat_ws("|",
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        cents(col("c_acctbal")), col("c_mktsegment")))
      o.unionByName(l).unionByName(c)
        .orderBy(col("tbl").asc_nulls_first)
    },
    Some("""SELECT 'orders' AS tbl, COUNT(*) AS n_rows,
      bit_xor(CAST('0x' || substr(md5(concat_ws('|',
        o_orderkey, o_custkey, o_orderstatus,
        CAST(ROUND(o_totalprice * 100) AS BIGINT),
        CAST(o_orderdate AS DATE), o_orderpriority)), 1, 15) AS BIGINT))
        AS checksum
    FROM orders
    UNION ALL
    SELECT 'lineitem', COUNT(*),
      bit_xor(CAST('0x' || substr(md5(concat_ws('|',
        l_orderkey, l_partkey, l_suppkey, l_linenumber,
        CAST(ROUND(l_quantity) AS BIGINT),
        CAST(ROUND(l_extendedprice * 100) AS BIGINT),
        CAST(ROUND(l_discount * 100) AS BIGINT),
        CAST(ROUND(l_tax * 100) AS BIGINT),
        l_returnflag, l_linestatus, CAST(l_shipdate AS DATE))), 1, 15) AS BIGINT))
    FROM lineitem
    UNION ALL
    SELECT 'customer', COUNT(*),
      bit_xor(CAST('0x' || substr(md5(concat_ws('|',
        c_custkey, c_name, c_nationkey,
        CAST(ROUND(c_acctbal * 100) AS BIGINT), c_mktsegment)), 1, 15) AS BIGINT))
    FROM customer
    ORDER BY tbl ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q134
  /** Weighted median per group — "the price at which half the QUANTITY
    * trades", the volume-aware center the plain median misrepresents
    * when row sizes vary (exactly the estimator a mixture-weighting or
    * pricing pipeline wants). Definition: the smallest value v with
    * cumulative weight(≤ v) ≥ half the group's total weight.
    *
    * All arithmetic is exact integers: values as cents, weights as
    * integral quantities, and the half-total comparison is
    * `2·cumw ≥ totw` — no division, no .5 boundary, no percentile
    * interpolation to disagree on. Shape: one window partitioned by
    * group (cumulative weight in value order — a per-group sort, never
    * global), the group totals ride the same window (unbounded frame),
    * and one min-aggregate picks the crossing value. Two keyed
    * shuffles at any scale. */
  val q134 = QueryDef(
    "q134_weighted_median",
    (spark, dir) => {
      val li = Tables(spark, dir).lineitem.select(
        col("l_returnflag"),
        round(col("l_extendedprice") * 100, 0).cast(LongType).as("cents"),
        round(col("l_quantity"), 0).cast(LongType).as("w"))
      val byVal = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("cents").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(col("l_returnflag"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      li.withColumn("cumw", sum(col("w")).over(byVal))
        .withColumn("totw", sum(col("w")).over(all))
        .filter(col("cumw") * 2 >= col("totw"))
        .groupBy(col("l_returnflag"))
        .agg(min(col("cents")).as("wmedian_cents"),
          max(col("totw")).as("total_weight"))
        .orderBy(col("l_returnflag").asc_nulls_first)
    },
    Some("""WITH li AS (
      SELECT l_returnflag,
        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
        CAST(ROUND(l_quantity) AS BIGINT) AS w
      FROM lineitem),
    c AS (
      SELECT l_returnflag, cents, w,
        SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        SUM(w) OVER (PARTITION BY l_returnflag) AS totw
      FROM li)
    SELECT l_returnflag,
      MIN(cents) AS wmedian_cents,
      CAST(MAX(totw) AS BIGINT) AS total_weight
    FROM c
    WHERE cumw * 2 >= totw
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q135
  /** Join-cardinality forecast + skew diagnosis WITHOUT running the
    * join: per-key count profiles of both sides, `Σ_k cnt_l(k)·cnt_r(k)`
    * = the exact inner-join output size, and the top contributing keys
    * = where the skew lives. The planning artifact an engineer reads
    * before shipping a 100 TB join — "is this join 10× the input, and
    * is it three keys' fault?" — and what a salting decision (q72)
    * keys off.
    *
    * Shape: one count-aggregate per side (map-side combinable), an
    * equi-join of the two PROFILE frames (key-cardinality-sized, not
    * row-sized), one tiny total. All counts exact integers; the output
    * is the top-5 skew keys with per-key products and their share in
    * ppm (exact integral divide through a DECIMAL(28,0) intermediate —
    * rows_out·10⁶ never wraps int64), plus one 'TOTAL' row carrying the
    * join size and the distinct-key count in its OWN nullable
    * `n_distinct_keys` column (null on per-key rows; share_ppm null on
    * the total row). */
  val q135 = QueryDef(
    "q135_join_cardinality",
    (spark, dir) => {
      val t = Tables(spark, dir)
      val lp = t.lineitem.groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("cl"))
      val rp = t.orders.groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("cr"))
      val prof = Materialize.cut(lp.join(rp, "k")
        .select(col("k"), (col("cl") * col("cr")).as("rows_out")))
      val tot = prof.agg(sum(col("rows_out")).as("t"), count(lit(1)).as("nk"))
      val top = prof.crossJoin(broadcast(tot))
        .orderBy(col("rows_out").desc_nulls_last, col("k").asc_nulls_first)
        .limit(5)
        // DECIMAL intermediate: rows_out·10⁶ stays exact far past int64
        // (q142's overflow envelope treatment, ADVICE round 12); div of
        // decimals is still an exact integral divide → BIGINT
        .select(col("k").cast("string").as("key"), col("rows_out"),
          expr("CAST(rows_out AS DECIMAL(28,0)) * 1000000 div t").as("share_ppm"),
          lit(null).cast(LongType).as("n_distinct_keys"))
      // nk rides its OWN nullable column (null on per-key rows) — it
      // used to overload share_ppm on the TOTAL row, two unrelated
      // meanings in one column (ADVICE round 12)
      val total = tot.select(lit("TOTAL").as("key"), col("t").as("rows_out"),
        lit(null).cast(LongType).as("share_ppm"), col("nk").as("n_distinct_keys"))
      top.unionByName(total)
        .orderBy(col("rows_out").desc_nulls_last, col("key").asc_nulls_first)
    },
    Some("""WITH lp AS (
      SELECT l_orderkey AS k, COUNT(*) AS cl FROM lineitem GROUP BY 1),
    rp AS (
      SELECT o_orderkey AS k, COUNT(*) AS cr FROM orders GROUP BY 1),
    prof AS (
      SELECT lp.k, CAST(lp.cl * rp.cr AS BIGINT) AS rows_out
      FROM lp JOIN rp USING (k)),
    tot AS (SELECT SUM(rows_out) AS t, COUNT(*) AS nk FROM prof),
    top AS (
      SELECT CAST(k AS VARCHAR) AS key, rows_out,
        (rows_out * 1000000) // (SELECT t FROM tot) AS share_ppm
      FROM prof
      ORDER BY rows_out DESC NULLS LAST, k ASC NULLS FIRST
      LIMIT 5)
    SELECT key, rows_out, CAST(share_ppm AS BIGINT) AS share_ppm,
      CAST(NULL AS BIGINT) AS n_distinct_keys FROM top
    UNION ALL
    SELECT 'TOTAL', CAST(t AS BIGINT), CAST(NULL AS BIGINT), CAST(nk AS BIGINT) FROM tot
    ORDER BY rows_out DESC NULLS LAST, key ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q138
  /** User-lifetime life table — the survival-analysis form of retention
    * (q106 counts activity; this counts LIFETIMES): lifetime = days
    * between a user's first and last event, and for each observed
    * lifetime t the table reports how many users "died" at t
    * (`n_events`) and how many were still alive entering t
    * (`n_at_risk` = users with lifetime ≥ t). The Kaplan–Meier curve is
    * the running product of (1 − d/n) over these rows — left to the
    * reader deliberately: the TABLE is exact integers (cross-engine
    * bit-stable), while a materialized product column would ride
    * engine-specific windowed-double accumulation (DuckDB's windowed
    * sums use segment trees — a different association order than
    * Spark's sequential frame scan).
    *
    * Shape: one user-keyed min/max aggregate (corpus-sized,
    * map-side-combinable), one aggregate to the ≤|days| lifetime
    * distribution, then the reverse-cumulative n_at_risk as a global
    * range window over that tiny frame — q78's whitelisted
    * dimension-window pattern (the window moves ≤|days| rows, never
    * data). */
  val q138 = QueryDef(
    "q138_life_table",
    (spark, dir) => {
      val spans = Tables(spark, dir).events
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .groupBy(col("user_id"))
        .agg(datediff(max(col("d")), min(col("d"))).as("lifetime"))
      val dist = spans.groupBy(col("lifetime"))
        .agg(count(lit(1)).as("n_events"))
      val atRisk = Window.orderBy(col("lifetime").asc)
        .rangeBetween(Window.currentRow, Window.unboundedFollowing)
      dist.withColumn("n_at_risk", sum(col("n_events")).over(atRisk))
        .select(col("lifetime"), col("n_events"), col("n_at_risk"))
        .orderBy(col("lifetime").asc_nulls_first)
    },
    Some("""WITH spans AS (
      SELECT user_id,
        CAST(date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
          AS INT) AS lifetime
      FROM events GROUP BY user_id),
    dist AS (
      SELECT lifetime, COUNT(*) AS n_events FROM spans GROUP BY lifetime)
    SELECT lifetime, n_events,
      CAST(SUM(n_events) OVER (ORDER BY lifetime ASC
        RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        AS n_at_risk
    FROM dist
    ORDER BY lifetime ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q141
  /** Two-sample Kolmogorov–Smirnov drift test between the month halves —
    * the NONPARAMETRIC companion to q122's binned PSI: `D = max_v
    * |F_a(v) − F_b(v)|` over the raw value distribution, no bins to
    * tune, sensitive to any distributional difference. Output is the
    * one-row verdict: the value where the CDFs diverge most, both
    * cumulative counts there, the exact integer numerator
    * `|ca·nb − cb·na|`, and D (with the 5%-level significance verdict
    * `D > 1.358·√((na+nb)/(na·nb))`).
    *
    * Exactness is the design: cumulative counts come from
    * [[GlobalCdf.withRunningTotals]] — the range-partitioned two-pass
    * prefix sum, never a single-partition window over the value domain
    * (the distinct-value frame scales with data; the oracle's global
    * window form is exactly what 100 TB cannot plan) — and the argmax
    * compares exact integer numerators (`ca·nb − cb·na` with
    * na·nb < 2⁶³), tie-broken by value, so the chosen row is bit-stable
    * cross-engine. Only the final division makes a double, once. */
  val q141 = QueryDef(
    "q141_ks_test",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("value"),
          when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L).as("ia"))
      val perValue = e.groupBy(col("value"))
        .agg(sum(col("ia")).as("wa"), sum(lit(1L) - col("ia")).as("wb"))
      val (cdf, totals) = GlobalCdf.withRunningTotals(
        perValue, Seq(col("value").asc), Seq("ca" -> col("wa"), "cb" -> col("wb")))
      val na = totals("ca")
      val nb = totals("cb")
      // loud envelope check: the exact integer numerator ca·nb − cb·na
      // requires na·nb < 2⁶³; with ANSI off a violation would silently
      // wrap and pick a wrong argmax row + verdict. The totals are
      // already driver-side model state, so the guard is free.
      require(na.toDouble * nb.toDouble < Long.MaxValue.toDouble,
        s"q141 exact-KS envelope exceeded: na=$na nb=$nb (na*nb must stay < 2^63; " +
          "pre-aggregate or subsample one side before the test)")
      val num = abs(col("ca") * nb - col("cb") * na)
      val crit = 1.358 * math.sqrt((na + nb).toDouble / (na.toDouble * nb))
      cdf.select(col("value").as("value_at_max"), col("ca"), col("cb"),
          num.as("num"), lit(na).as("na"), lit(nb).as("nb"))
        .orderBy(col("num").desc_nulls_last, col("value_at_max").asc_nulls_first)
        .limit(1)
        .withColumn("d_stat",
          round(col("num").cast(DoubleType) / (na.toDouble * nb), 6))
        .withColumn("significant",
          col("num").cast(DoubleType) / (na.toDouble * nb) > crit)
    },
    Some("""WITH e AS (
      SELECT value,
        CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END AS ia
      FROM events),
    pv AS (
      SELECT value, CAST(SUM(ia) AS BIGINT) AS wa,
        CAST(SUM(1 - ia) AS BIGINT) AS wb
      FROM e GROUP BY value),
    cdf AS (
      SELECT value,
        CAST(SUM(wa) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
        CAST(SUM(wb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
      FROM pv),
    tot AS (SELECT CAST(SUM(wa) AS BIGINT) AS na, CAST(SUM(wb) AS BIGINT) AS nb FROM pv),
    best AS (
      SELECT c.value AS value_at_max, c.ca, c.cb,
        abs(c.ca * t.nb - c.cb * t.na) AS num, t.na, t.nb
      FROM cdf c CROSS JOIN tot t
      ORDER BY abs(c.ca * t.nb - c.cb * t.na) DESC NULLS LAST,
        c.value ASC NULLS FIRST
      LIMIT 1)
    SELECT value_at_max, ca, cb, num, na, nb,
      round(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6) AS d_stat,
      CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb) >
        1.358 * sqrt((na + nb) / (CAST(na AS DOUBLE) * nb)) AS significant
    FROM best"""))

  // --------------------------------------------------------------- q142
  /** Lorenz concentration curve — "the top 10% of customers hold X% of
    * revenue": cumulative spend share at each customer-count decile,
    * the curve whose area q120's Gini summarizes to one number (the
    * curve says WHERE the concentration lives; an analyst reads both).
    *
    * Built on [[GlobalCdf]]: customers ordered by (spend desc, key),
    * exact running totals of both customer COUNT and spend CENTS in one
    * pass — never a single-partition window over the customer domain —
    * then the ten decile boundary rows selected by exact integer rank
    * (`⌈k·n/10⌉`, ANSI-ntile upper boundaries) and shares in exact ppm
    * (`cum·10⁶ div total`). All integers until nothing; spend enters
    * as cents so even the running sums are integer-exact. */
  val q142 = QueryDef(
    "q142_lorenz_curve",
    (spark, dir) => {
      val spend = Tables(spark, dir).orders
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast(LongType)).as("cents"))
      val (cdf, totals) = GlobalCdf.withRunningTotals(
        spend, Seq(col("cents").desc, col("o_custkey").asc),
        Seq("cum_n" -> lit(1L), "cum_cents" -> col("cents")))
      val n = totals("cum_n")
      val totCents = totals("cum_cents")
      // ANSI-ntile upper boundaries, deduped to the smallest decile when
      // n < 10 makes neighbours collide
      val bounds = (1 to 10).map(k => (k, (k * n + 9) / 10))
        .groupBy(_._2).map { case (b, ks) => (ks.map(_._1).min, b) }
        .toSeq.sortBy(_._1)
      import spark.implicits._
      val bdf = bounds.toDF("decile", "cum_n")
      cdf.join(broadcast(bdf), "cum_n")
        .select(col("decile"), col("cum_n").as("cum_customers"),
          col("cum_cents"),
          // DECIMAL intermediate: cum_cents·10⁶ would wrap int64 once
          // cumulative spend passes ~$92B — reachable at 100 TB.
          // DECIMAL(28,0)·10⁶ stays exact to 10³⁴ (DuckDB's HUGEINT
          // does the same on the oracle side); the integral divide
          // lands back in BIGINT. (ADVICE round 12)
          expr(s"CAST(cum_cents AS DECIMAL(28,0)) * 1000000 div ${totCents}L").as("share_ppm"))
        .orderBy(col("decile").asc_nulls_first)
    },
    Some("""WITH spend AS (
      SELECT o_custkey,
        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    cdf AS (
      SELECT o_custkey, cents,
        CAST(row_number() OVER w AS BIGINT) AS cum_n,
        CAST(SUM(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum_cents
      FROM spend
      WINDOW w AS (ORDER BY cents DESC, o_custkey ASC)),
    tot AS (
      SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS tot_cents
      FROM spend),
    bounds AS (
      SELECT CAST(u.k AS INT) AS decile, (u.k * t.n + 9) // 10 AS b
      FROM tot t, UNNEST(range(1, 11)) AS u(k)),
    bd AS (SELECT MIN(decile) AS decile, b FROM bounds GROUP BY b)
    SELECT bd.decile, c.cum_n AS cum_customers, c.cum_cents,
      (c.cum_cents * 1000000) // t.tot_cents AS share_ppm
    FROM cdf c JOIN bd ON c.cum_n = bd.b CROSS JOIN tot t
    ORDER BY decile ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q143
  /** Per-segment KS drift — q141's test evaluated independently per
    * event type: the triage table ("WHICH signal drifted?") a drift
    * alarm fans out to after the corpus-level verdict fires. One row
    * per type with its own D statistic, divergence location and
    * significance.
    *
    * Shape differs from q141 deliberately: with the value domain SPLIT
    * by a grouping key, the running sums are a window PARTITIONED by
    * that key over the per-(type, value) count frame — distributed by
    * construction, no GlobalCdf needed (that primitive exists for the
    * UNPARTITIONED domain). Per-type totals ride the same window with
    * an unbounded frame; the per-type argmax is one `max_by` over the
    * exact integer struct (|num| desc, value asc — encoded as
    * (num, −value) so the struct MAX is the tie-broken argmax).
    * Exactness rules are q141's: integer numerators, one division at
    * output — and q141's envelope: per-type na·nb < 2⁶³. The totals
    * here are plan-side (per-group), so the loud driver `require` q141
    * runs has no hook; the envelope is spec-guarded instead
    * (AnalyticSpec "q141/q143 exact-KS envelope") — a fixture whose
    * per-type counts breach it fails THERE with a precise message. */
  val q143 = QueryDef(
    "q143_ks_by_group",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("event_type"), col("value"),
          when(dayofmonth(col("ts")) <= 15, 1L).otherwise(0L).as("ia"))
      val pv = e.groupBy(col("event_type"), col("value"))
        .agg(sum(col("ia")).as("wa"), sum(lit(1L) - col("ia")).as("wb"))
      val run = Window.partitionBy(col("event_type")).orderBy(col("value").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(col("event_type"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cdf = pv
        .withColumn("ca", sum(col("wa")).over(run))
        .withColumn("cb", sum(col("wb")).over(run))
        .withColumn("na", sum(col("wa")).over(all))
        .withColumn("nb", sum(col("wb")).over(all))
        .withColumn("num", abs(col("ca") * col("nb") - col("cb") * col("na")))
      cdf.groupBy(col("event_type"))
        .agg(
          max(struct(col("num"), (-col("value")).as("nv"), col("value"),
            col("ca"), col("cb"), col("na"), col("nb"))).as("best"))
        .select(col("event_type"),
          col("best.value").as("value_at_max"),
          col("best.ca").as("ca"), col("best.cb").as("cb"),
          col("best.num").as("num"),
          col("best.na").as("na"), col("best.nb").as("nb"))
        .withColumn("d_stat",
          round(col("num").cast(DoubleType) /
            (col("na").cast(DoubleType) * col("nb")), 6))
        .withColumn("significant",
          col("num").cast(DoubleType) / (col("na").cast(DoubleType) * col("nb")) >
            lit(1.358) * sqrt((col("na") + col("nb")).cast(DoubleType) /
              (col("na").cast(DoubleType) * col("nb"))))
        .orderBy(col("event_type").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT event_type, value,
        CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END AS ia
      FROM events),
    pv AS (
      SELECT event_type, value, CAST(SUM(ia) AS BIGINT) AS wa,
        CAST(SUM(1 - ia) AS BIGINT) AS wb
      FROM e GROUP BY 1, 2),
    cdf AS (
      SELECT event_type, value,
        CAST(SUM(wa) OVER (PARTITION BY event_type ORDER BY value
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
        CAST(SUM(wb) OVER (PARTITION BY event_type ORDER BY value
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb,
        CAST(SUM(wa) OVER (PARTITION BY event_type) AS BIGINT) AS na,
        CAST(SUM(wb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
      FROM pv),
    best AS (
      SELECT event_type, value AS value_at_max, ca, cb,
        abs(ca * nb - cb * na) AS num, na, nb,
        row_number() OVER (PARTITION BY event_type
          ORDER BY abs(ca * nb - cb * na) DESC, value ASC) AS rn
      FROM cdf)
    SELECT event_type, value_at_max, ca, cb, num, na, nb,
      round(CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6) AS d_stat,
      CAST(num AS DOUBLE) / (CAST(na AS DOUBLE) * nb) >
        1.358 * sqrt((na + nb) / (CAST(na AS DOUBLE) * nb)) AS significant
    FROM best WHERE rn = 1
    ORDER BY event_type ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q145
  /** Feed-freshness report — "which feeds are stale?": per event type,
    * the last-seen instant, the lag behind the freshest feed, and the
    * type's volume in its own trailing 24 h. The landing-zone health
    * check a scheduler consults before kicking downstream jobs (the
    * reference's sensor-then-run pattern,
    * `/root/reference/dags/update_tr_from_ex_dag.py:127-128`, as a
    * table).
    *
    * Two passes, q126's shape: one max-aggregate to the per-type
    * anchors (map-side combinable), anchors broadcast back for the
    * trailing-24 h count. The global anchor rides a window over the
    * |types|-row frame (whitelisted dimension-window pattern).
    * Determinism: instants emitted as epoch-µs BIGINT (contract — no
    * raw timestamp outputs), lags as exact integer seconds. */
  val q145 = QueryDef(
    "q145_freshness",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val anchors = e.groupBy(col("event_type"))
        .agg(max(col("us")).as("last_us"), count(lit(1)).as("n_total"))
      val counts = e.join(broadcast(anchors.select(col("event_type"), col("last_us"))),
          "event_type")
        .filter(col("us") > col("last_us") - 86400000000L)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_last_24h"))
      val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      anchors.join(counts, "event_type")
        .withColumn("gmax", max(col("last_us")).over(all))
        .withColumn("lag_s", expr("(gmax - last_us) div 1000000L"))
        .select(col("event_type"), col("last_us"), col("lag_s"),
          col("n_total"), col("n_last_24h"))
        .orderBy(col("event_type").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT event_type, epoch_ns(ts) // 1000 AS us FROM events),
    anchors AS (
      SELECT event_type, MAX(us) AS last_us, COUNT(*) AS n_total
      FROM e GROUP BY event_type),
    counts AS (
      SELECT e.event_type, COUNT(*) AS n_last_24h
      FROM e JOIN anchors a USING (event_type)
      WHERE e.us > a.last_us - 86400000000
      GROUP BY e.event_type)
    SELECT a.event_type, a.last_us,
      (MAX(a.last_us) OVER () - a.last_us) // 1000000 AS lag_s,
      a.n_total, c.n_last_24h
    FROM anchors a JOIN counts c USING (event_type)
    ORDER BY a.event_type ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q156
  /** Exact group-wise AUC (Mann–Whitney U with midrank tie handling) —
    * the RANKING-metric half the statistical-QA pack was missing next
    * to its threshold tests (q121 z-test, q125 χ², q141/q143 KS): "how
    * well does this score rank positives over negatives?" is the
    * question every quality-classifier calibration asks before a gate
    * like q61/q71 ships. Here: daily AUC of the spend amount as a
    * purchase-vs-click classifier.
    *
    * Exactness: AUC = U/(n₁n₀) with U = Σ_pos midrank − n₁(n₁+1)/2 —
    * a RATIONAL number. Doubling the midranks keeps everything
    * integral: per distinct score, midrank2 = 2·(count strictly below)
    * + ties + 1, so u2 = 2U and auc_ppm = u2·10⁶ div (2·n₁·n₀) — one
    * integral divide, u2 ≥ 0 always (sign-split unnecessary). Scores
    * are micro-scaled longs (`round(value·10⁶)`, the q43 float rule);
    * AnalyticSpec asserts the scaling is order-isomorphic on the
    * fixtures (distinct values = distinct scores) and replays a
    * brute-force all-pairs AUC per day at sf0.001.
    *
    * Overflow envelope (q137 pattern): per-term np·midrank2 ≤ n(2n+1)
    * and n₁(n₁+1) wrap int64 at group sizes n ≳ 2·10⁹, reachable at
    * 100 TB — so both sums route through DECIMAL(28,0) BEFORE the
    * multiply, and the ppm divide runs DECIMAL÷DECIMAL (DuckDB's
    * HUGEINT is already exact on the oracle side).
    *
    * Scale shape: ranks come from the per-(day, score) DISTINCT frame
    * — the corpus-sized pass is one map-side-combinable aggregate, the
    * midrank window runs over distinct scores only (bounded by value
    * cardinality, not row count), and its day-hash partitioning is
    * reused by the final per-day fold. Never a global sort, never a
    * per-row window. */
  val q156 = QueryDef(
    "q156_group_auc",
    (spark, dir) => {
      val ev = Tables(spark, dir).events
        .filter(col("event_type").isin("purchase", "click"))
        .select(to_date(col("ts")).as("day"),
          round(col("value") * 1000000, 0).cast(LongType).as("score"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
      groupAuc(ev)
    },
    Some("""WITH ev AS (
      SELECT CAST(ts AS DATE) AS day,
        CAST(round(value * 1000000) AS BIGINT) AS score,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events WHERE event_type IN ('purchase', 'click')),
    per AS (
      SELECT day, score, CAST(COUNT(*) AS BIGINT) AS cnt,
        CAST(SUM(pos) AS BIGINT) AS np
      FROM ev GROUP BY day, score),
    ranked AS (
      SELECT day, np, cnt,
        COALESCE(SUM(cnt) OVER (PARTITION BY day ORDER BY score ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM per),
    agg AS (
      SELECT day, SUM(np) AS n1, SUM(cnt) - SUM(np) AS n0,
        SUM(np * (2 * cum_before + cnt + 1)) - SUM(np) * (SUM(np) + 1) AS u2
      FROM ranked GROUP BY day)
    SELECT day, CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
      CAST(u2 * 1000000 // NULLIF(2 * n1 * n0, 0) AS BIGINT) AS auc_ppm
    FROM agg ORDER BY day ASC NULLS FIRST"""))

  /** q156's core over any `(day, score: long, pos: 0|1 long)` frame —
    * factored so the spec can replay hand-built frames through the
    * exact plan the registered query runs. */
  private[graft] def groupAuc(ev: DataFrame): DataFrame = {
    val per = ev.groupBy(col("day"), col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("np"))
    val w = Window.partitionBy(col("day")).orderBy(col("score").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = per.withColumn("cum_before",
      coalesce(sum(col("cnt")).over(w), lit(0L)))
    ranked.groupBy(col("day"))
      .agg(sum(col("np")).as("n1"),
        (sum(col("cnt")) - sum(col("np"))).as("n0"),
        // DECIMAL before the multiply — the envelope note above
        (sum(col("np").cast(DecimalType(28, 0))
            * (col("cum_before") * 2 + col("cnt") + 1))
          - sum(col("np")).cast(DecimalType(28, 0))
            * (sum(col("np")) + lit(1L))).as("u2"))
      .select(col("day"),
        col("n1").cast(LongType).as("n_pos"),
        col("n0").cast(LongType).as("n_neg"),
        expr("""CAST(CAST(u2 * 1000000 AS DECIMAL(38,0))
          div NULLIF(CAST(n1 AS DECIMAL(28,0)) * n0 * 2, CAST(0 AS DECIMAL(28,0)))
          AS BIGINT)""").as("auc_ppm"))
      .orderBy(col("day").asc_nulls_first)
  }

  // --------------------------------------------------------------- q157
  /** Triangle census of the co-purchase graph — the third graph analytic
    * next to q127 (PageRank: global centrality) and q55 (connected
    * components: reachability): local clustering. Nodes are parts, an
    * undirected edge joins two parts that co-occur in at least one
    * order, and the outputs are the triangle count and the global
    * transitivity 3·Δ/wedges — "how clique-like is co-purchasing?", the
    * structure signal behind basket recommendation and, on a
    * doc-overlap graph, behind dedup-cluster density QA.
    *
    * Algorithm — degree-ordered wedge closure (Schank–Wagner's forward
    * algorithm; Suri & Vassilvitskii WWW'11 give the MapReduce analysis):
    * orient every edge from its lower-(degree, id) endpoint to the
    * higher one; every triangle then has exactly ONE vertex with two
    * out-edges (its (deg, id)-minimum), so per oriented edge u→v the
    * common out-neighbors |N⁺(u) ∩ N⁺(v)| enumerate each triangle
    * exactly once. The orientation is the scale story: out-degree is
    * bounded by O(√m) on any graph (a vertex keeps only neighbors of
    * higher degree), so the closure work is Σ outdeg² ≤ m^1.5 instead
    * of the hub-quadratic Σ deg² — the "curse of the last reducer" is
    * exactly what the unoriented join would hit on a boilerplate-grade
    * hub part at 100 TB. Everything is equi-join shaped: per-order pair
    * expansion (bounded by basket size, AQE skew-split applies to hot
    * orders), hash aggregation for degrees, long-keyed adjacency
    * attaches. The only cross joins combine three 1-ROW stat frames
    * (PlanSpec tiny-broadcast whitelist).
    *
    * Determinism/width: counts are exact longs; Σ d(d−1) routes through
    * DECIMAL(38,0) BEFORE the multiply (hub degree ~10⁶ at 100 TB puts
    * d² sums past int64 — the q156 envelope pattern) and the ppm
    * transitivity is one integral DECIMAL divide: 3Δ/(Σd(d−1)/2) =
    * 6·10⁶·Δ div Σd(d−1), NULL on a triangle-free wedgeless graph. */
  /** Broadcast gate for q157's out-adjacency table: up to this many
    * edges the packed arrays total ≲ 64 MiB (8 B per edge + row
    * overhead) and both closure attaches broadcast, making the
    * triangle pass map-only over the edge stream; beyond it the
    * attaches join shuffled (the q33 BroadcastShingleMaxDocs pattern). */
  private[graft] val TriAdjBroadcastMaxEdges = 4000000L

  /** Broadcast gate for the VERTEX-STATE side of the iterative graph
    * loops (round 17): label frames (q216), peel removal sets (q163)
    * and BFS frontiers (q202) are |V|-bounded rows of two longs, so up
    * to ~4 M rows (≲64 MiB built) broadcasting them makes each round's
    * join MAP-ONLY over the materialized edge/adjacency checkpoint —
    * the measured alternative re-shuffled the 2|E| edge frame into
    * every round (stage traces in OPTIMIZATION_r17.md). Each loop
    * already holds the row count as a driver scalar (the peel/BFS loop
    * conditions; the node count for LPA), so the gate costs nothing
    * and degrades to the shuffled equi-join exactly like
    * [[TriAdjBroadcastMaxEdges]] when the state outgrows it. */
  private[graft] val VertexBroadcastMaxRows = 4000000L

  /** Canonical co-purchase edge build — basket → (u < v) edge set,
    * deduped across orders. The item frame is DISTINCT'd on
    * (l_orderkey, l_partkey) BEFORE the self-join: round 15 dropped
    * this pre-pass on the theory that duplicate rows only multiply
    * pairs into the same final DISTINCT, and the view promptly doubled
    * on the driver bench (3.08→6.18 s) — duplicate (order, part) rows
    * square through the self-join, so the early aggregate bounds the
    * join output at the cost of one cheap map-side-combinable shuffle.
    * Measured basis (round 16, quiet box, warm): with pre-distinct
    * 1.94–2.22 s, without 2.91 s at sf0.1 — the pre-pass wins even
    * before the skew/duplication argument that decides it at 100 TB. */
  private[graft] def buildCoPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
  }

  /** Per-pair co-purchase SUPPORT counts as a MEMOIZED materialized
    * view (round-17 optimization): the basket self-join — the one
    * corpus-priced stage of the whole co-purchase family — previously
    * ran three times per session (the edge view, q119's top-20 counts,
    * q162's support counts). This view keeps the counted form
    * `(u, v, n_orders)`; the edge view below projects it, so the
    * expansion runs ONCE. Bench line item: `view_copurchase_support`. */
  private[graft] val coPurchaseSupport = graft.View("copurchase_support") { (spark, dir) =>
    val items = Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    Materialize.cut(
      items.as("a").join(items.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("n_orders")))
  }

  /** The co-purchase edge set as a MEMOIZED materialized view (the
    * q55-label / q44-pair convention): q157, q163 and q168 all analyze
    * the same graph, and a production graph pipeline materializes its
    * edge list once and runs every analytic off it — three queries each
    * re-expanding the baskets would pay the build three times per
    * session. Round 17: the edge set is the key projection of the
    * support view (a grouped count's keys are exactly the distinct
    * pairs), so this view's own recompute is a cheap projection and the
    * expansion itself is timed once under `view_copurchase_support`. */
  private[graft] val coPurchaseEdges =
    graft.View("copurchase_edges", Seq(coPurchaseSupport)) { (spark, dir) =>
      // the view memoizes HANDLES to materialized frames — an uncut
      // plan here would re-run the basket expansion on every consumer
      Materialize.cut(coPurchaseSupport(spark, dir).select(col("u"), col("v")))
    }

  /** Spec/hand-built-graph entry: builds (and cuts) the edge set inline. */
  private[graft] def triangleCensus(lineitem: DataFrame): DataFrame =
    triangleCensusOnEdges(Materialize.cut(buildCoPurchaseEdges(lineitem)))

  /** Degrees + (deg, id)-oriented sorted out-adjacency of the canonical
    * co-purchase graph, built from an edge frame — the shared interior
    * of [[triangleCensusOnEdges]] (q157) and
    * [[localClusteringOnEdges]] (q168). Returns the two cut frames
    * `(deg(node, d), adj(src, nbrs))`. */
  private[graft] def orientedAdjacency(edges: DataFrame): (DataFrame, DataFrame) = {
    val deg = Materialize.cut(
      edges.select(col("u").as("node"))
        .unionByName(edges.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d")))
    val withDeg = edges
      .join(deg.select(col("node").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("d").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst"))
    val adj = Materialize.cut(oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs")))
    (deg, adj)
  }

  /** The oriented adjacency as ONE memoized two-frame view (round-17
    * optimization; the [[coPurchaseEdges]] convention): q157 and q168 analyze
    * the SAME oriented graph and previously each re-built degrees,
    * orientation joins and the sorted-array aggregate from the edge
    * view. The bench times the build as the `view_copurchase_adj` line
    * item. One build produces BOTH frames (adj first, then deg), cached
    * and invalidated as a unit ([[graft.View.frames]]) — both final
    * checkpoints are kept by the build's scope, so neither can be GC'd
    * as "interior" of the other in reliable mode. */
  private[graft] val adjView =
    graft.View.frames("copurchase_adj", Seq(coPurchaseEdges)) { (spark, dir) =>
      val (deg, adj) = orientedAdjacency(coPurchaseEdges(spark, dir))
      Seq(adj, deg)
    }

  /** `(deg, adj)` of the memoized [[adjView]]. */
  private[graft] def copurchaseAdj(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val Seq(adj, deg) = adjView.frames(spark, dir)
    (deg, adj)
  }

  /** Census over an already-materialized canonical edge frame (the
    * registered q157 reads the memoized [[coPurchaseEdges]] view). Cut:
    * edges feed degrees, the degree attach and the edge-count gate —
    * callers pass a materialized frame. */
  private[graft] def triangleCensusOnEdges(edges: DataFrame): DataFrame = {
    val (deg, adj) = orientedAdjacency(edges)
    triangleCensusOnAdj(edges, deg, adj)
  }

  /** Census over pre-built (degree, adjacency) views — the registered
    * q157 reads the memoized [[copurchaseAdj]] pair (round 17). */
  private[graft] def triangleCensusOnAdj(edges: DataFrame, deg: DataFrame,
      adj: DataFrame): DataFrame = {
    // Forward-algorithm closure WITHOUT materializing the wedge stream:
    // for oriented edge u→v, common out-neighbors |N⁺(u) ∩ N⁺(v)| are
    // exactly the triangles whose (deg, id)-minimum is u — one sorted
    // array intersect per edge (the q33 jaccardForCandidates shape)
    // instead of a Σ outdeg² row explosion through an exchange
    // (measured at sf0.1: 41 M wedge rows → zero; 13 s → ~2 s). Each
    // adjacency array is outdeg-bounded ≤ O(√m) — the orientation
    // invariant — so a row is ~√m longs, and under [[TriAdjBroadcastMaxEdges]]
    // the whole out-adjacency table broadcasts and the closure pass is
    // MAP-ONLY over the edge stream; larger graphs fall back to a
    // shuffled equi-join (same asymptotic Σ outdeg² intersect work,
    // moved as packed arrays instead of wedge rows).
    //
    // The oriented edge stream itself is never checkpointed: the
    // closure's left side re-derives (src, dst, N⁺(src)) by EXPLODING
    // the adjacency table — each adjacency row already carries every
    // out-edge of src together with the array the intersect needs, so
    // the only join left is the dst-side attach (the round-12 reshape:
    // 8 eager actions → 5; per-action overhead was the measured cost,
    // every stage ≤ 2 s with no hotspot).
    val nEdges = edges.count()
    def side(df: DataFrame) =
      if (nEdges <= TriAdjBroadcastMaxEdges) broadcast(df) else df
    // |N⁺(u) ∩ N⁺(v)| via the native two-pointer merge over the sorted
    // adjacency arrays (graft_sorted_intersect_count) — same count as
    // size(array_intersect(nu, nv)) on these duplicate-free sorted
    // arrays, but no per-row hash set and no materialized intersection;
    // the Σ outdeg² element visits are the whole closure cost, so the
    // per-element constant is the query's wall clock.
    val triPerEdge = adj
      .select(col("src"), col("nbrs").as("nu"),
        explode(col("nbrs")).as("dst"))
      .join(side(adj.select(col("src").as("rv"), col("nbrs").as("nv"))),
        col("dst") === col("rv"))
      .select(call_function("graft_sorted_intersect_count",
        col("nu"), col("nv")).as("tc"))
    val dStats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(col("d").cast(DecimalType(38, 0)) * (col("d") - 1)).as("w2"))
    val tStats = triPerEdge.agg(
      coalesce(sum(col("tc")), lit(0L)).as("n_triangles"))
    dStats.crossJoin(broadcast(tStats))
      .select(
        col("n_nodes"), lit(nEdges).as("n_edges"),
        expr("CAST(w2 div 2 AS BIGINT)").as("n_wedges"),
        col("n_triangles"),
        expr("""CAST(CAST(n_triangles AS DECIMAL(38,0)) * 6000000
          div NULLIF(w2, CAST(0 AS DECIMAL(38,0))) AS BIGINT)""")
          .as("transitivity_ppm"))
  }

  val q157 = QueryDef(
    "q157_triangle_count",
    (spark, dir) => {
      val (deg, adj) = copurchaseAdj(spark, dir)
      triangleCensusOnAdj(coPurchaseEdges(spark, dir), deg, adj)
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
            GROUP BY node),
    tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS t
            FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    ds AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                  CAST(SUM(d * (d - 1)) AS HUGEINT) AS w2 FROM deg),
    es AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT ds.n_nodes, es.n_edges,
      CAST(ds.w2 // 2 AS BIGINT) AS n_wedges,
      tri.t AS n_triangles,
      CAST(6000000 * CAST(tri.t AS HUGEINT) // NULLIF(ds.w2, 0) AS BIGINT)
        AS transitivity_ppm
    FROM ds, es, tri"""))

  // --------------------------------------------------------------- q159
  /** Mutual information between event type and day-of-week — the
    * information-theoretic association measure next to q125's χ² (which
    * answers "is there any dependence?"; MI answers "how MUCH, in
    * nats") and q122's PSI (one variable across time; MI is two
    * variables at once). The per-cell pointwise-MI table is the
    * feature-selection / leakage-screen primitive: a cell with high
    * |PMI| names exactly which (type, weekday) pairing carries the
    * signal.
    *
    * Day-of-week is computed engine-agnostically as (epoch_day + 3)
    * mod 7 (0 = Monday): Spark's `dayofweek` is 1-indexed from Sunday
    * while DuckDB's `dayofweek` is 0-indexed — integer day arithmetic
    * sidesteps the off-by-one class entirely.
    *
    * Determinism (q122's float protocol): probabilities are double
    * ratios of EXACT long counts with identical expression shape in
    * both engines, every output float is rounded to 6 dp, and the
    * total-row MI sums the ROUNDED per-cell contributions through a
    * DECIMAL(18,6) cast — the reader-visible sum, not a private
    * unrounded one. Zero cells never enter (observed group-by; the
    * 0·ln0 = 0 convention drops them from the sum anyway).
    *
    * Scale: the corpus-sized work is ONE (type, dow) map-side-
    * combinable count; margins and the grand total are cell-frame
    * aggregates broadcast back into the ≤ |types|·7 cell frame
    * (q104/q122's whitelisted tiny-stats pattern). */
  val q159 = QueryDef(
    "q159_mutual_info",
    (spark, dir) => {
      val e = Tables(spark, dir).events.select(col("event_type"),
        pmod(datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) + 3, lit(7))
          .cast(IntegerType).as("dow"))
      // cut: margins, the total and the cell rows all fold this frame
      val cells = Materialize.cut(
        e.groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("n")))
      val tm = cells.groupBy(col("event_type")).agg(sum(col("n")).as("nt"))
      val dm = cells.groupBy(col("dow")).agg(sum(col("n")).as("nd"))
      val tot = cells.agg(sum(col("n")).as("tot"))
      val ratio = ((col("n") * 1.0) * col("tot")) / ((col("nt") * 1.0) * col("nd"))
      val perCell = cells.join(broadcast(tm), "event_type")
        .join(broadcast(dm), "dow")
        .crossJoin(broadcast(tot))
        .select(col("event_type"), col("dow"), col("n"),
          round(log(ratio), 6).as("pmi"),
          round((col("n") / (col("tot") * 1.0)) * log(ratio), 6).as("mi_part"))
      val total = perCell.agg(
        lit("__all").as("event_type"), lit(-1).as("dow"), sum(col("n")).as("n"),
        lit(null).cast(DoubleType).as("pmi"),
        round(sum(col("mi_part").cast(DecimalType(18, 6))).cast(DoubleType), 6)
          .as("mi_part"))
      perCell.unionByName(total)
        .orderBy(col("event_type").asc_nulls_first, col("dow").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT event_type,
        CAST((CAST(ts AS DATE) - DATE '1970-01-01' + 3) % 7 AS INT) AS dow
      FROM events),
    cells AS (
      SELECT event_type, dow, COUNT(*) AS n FROM e GROUP BY 1, 2),
    tm AS (SELECT event_type, SUM(n) AS nt FROM cells GROUP BY 1),
    dm AS (SELECT dow, SUM(n) AS nd FROM cells GROUP BY 1),
    tot AS (SELECT SUM(n) AS tot FROM cells),
    per_cell AS (
      SELECT c.event_type, c.dow, CAST(c.n AS BIGINT) AS n,
        round(ln(((c.n * 1.0) * t.tot) / ((m.nt * 1.0) * d.nd)), 6) AS pmi,
        round((c.n / (t.tot * 1.0)) *
          ln(((c.n * 1.0) * t.tot) / ((m.nt * 1.0) * d.nd)), 6) AS mi_part
      FROM cells c JOIN tm m USING (event_type) JOIN dm d USING (dow)
      CROSS JOIN tot t)
    SELECT event_type, dow, n, pmi, mi_part FROM per_cell
    UNION ALL
    SELECT '__all' AS event_type, -1 AS dow, CAST(SUM(n) AS BIGINT) AS n,
      CAST(NULL AS DOUBLE) AS pmi,
      round(CAST(SUM(CAST(mi_part AS DECIMAL(18,6))) AS DOUBLE), 6) AS mi_part
    FROM per_cell
    ORDER BY event_type ASC NULLS FIRST, dow ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q163
  /** k-core peel threshold: chosen against the co-purchase graph's
    * degree profile (min deg ≈ 40, median ≈ 115–120 at every shipped
    * SF) so the peel is non-trivial — a real layer is removed, the
    * core keeps most of the graph — and converges in single-digit
    * rounds. */
  private[graft] val KCoreK = 64

  /** k-core of the co-purchase graph — the fourth graph analytic next
    * to q127 (PageRank: centrality), q55 (components: reachability) and
    * q157 (triangles: local density): cohesion. The k-core is the
    * maximal subgraph where every node keeps ≥ k neighbors INSIDE the
    * subgraph — the standard "dense nucleus" extractor behind graph
    * sampling, community seeding and, on a near-dup pair graph,
    * dedup-cluster robustness QA (a doc only counts as entrenched if
    * its neighbors are themselves entrenched).
    *
    * Algorithm — batch-synchronous DELTA peel (the parallel form of
    * Batagelj–Zaveršnik's sequential min-degree peel, with the q98
    * incremental-maintenance twist): full degrees are aggregated ONCE,
    * then each round decrements only the neighbors of the nodes that
    * just dropped below k — an edge-stream equi-join against the
    * (shrinking) removed set plus a |survivors|-sized left join, never
    * a re-aggregation of the whole survivor graph. Round-r join
    * matches are the edges INCIDENT TO round-r removals, so the
    * peel's total decrement volume across all rounds is ≤ |E| — at
    * 100 TB the tail rounds touch a vanishing fraction of the graph
    * (the naive re-count form re-shuffles every surviving edge every
    * round). Removals apply in per-round batches, so the fixpoint is
    * the same synchronous peel the oracle's recursive CTE states —
    * and the k-core itself is peel-order-invariant anyway.
    *
    * O(peel depth) rounds — the q55/q127 Pregel shape, with
    * [[graft.Materialize.cut]] truncating lineage on the |V|-sized
    * degree frame per round; the directed edge frame is cut ONCE and
    * re-read every round (the q127 convention — rounds never replay
    * the basket expansion). The driver holds one removed COUNT per
    * round — model-state scale, never row data.
    *
    * Output: every core member with its in-core degree (full degree
    * minus all peeled neighbors = degree within the core),
    * node-ordered. Oracle: the identical peel as an iteration-capped
    * recursive CTE (cap 12 ≫ the observed ≤ 4-round convergence at
    * every fixture; a cap breach shows up as a loud hash mismatch,
    * never silence). */
  /** Spec/hand-built-graph entry: builds the edge set inline. */
  private[graft] def kCore(lineitem: DataFrame, k: Int = KCoreK): DataFrame =
    kCoreOnEdges(Materialize.cut(buildCoPurchaseEdges(lineitem)), k)

  /** Peel over an already-materialized canonical edge frame (the
    * registered q163 reads the memoized [[coPurchaseEdges]] view). */
  private[graft] def kCoreOnEdges(edges: DataFrame, k: Int = KCoreK): DataFrame = {
    val dir = Materialize.cut(
      edges.select(col("u").as("x"), col("v").as("y"))
        .unionByName(edges.select(col("v").as("x"), col("u").as("y"))))
    var deg = Materialize.cut(
      dir.groupBy(col("x")).agg(count(lit(1)).as("core_deg")))
    var removed = deg.filter(col("core_deg") < k)
    var alive = deg.filter(col("core_deg") >= k)
    // the loop condition already collects the removal count — reuse it
    // as the [[VertexBroadcastMaxRows]] broadcast gate so each round's
    // decrement join is map-only over the edge checkpoint (round 17)
    var removedCnt = removed.count()
    while (removedCnt > 0) {
      val rem = removed.select(col("x").as("y"))
      val lost = dir
        .join(if (removedCnt <= VertexBroadcastMaxRows) broadcast(rem) else rem,
          "y")
        .groupBy(col("x")).agg(count(lit(1)).as("lost"))
      deg = Materialize.cut(
        alive.join(lost, Seq("x"), "left")
          .select(col("x"),
            (col("core_deg") - coalesce(col("lost"), lit(0L))).as("core_deg")))
      removed = deg.filter(col("core_deg") < k)
      alive = deg.filter(col("core_deg") >= k)
      removedCnt = removed.count()
    }
    alive.select(col("x").as("node"), col("core_deg"))
      .orderBy(col("node").asc_nulls_first)
  }

  val q163 = QueryDef(
    "q163_kcore",
    (spark, dir) => kCoreOnEdges(coPurchaseEdges(spark, dir)),
    Some("""WITH RECURSIVE items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
    dir AS (SELECT u AS x, v AS y FROM e UNION ALL SELECT v AS x, u AS y FROM e),
    alive(iter, node) AS (
      SELECT 0, x FROM (SELECT DISTINCT x FROM dir)
      UNION ALL
      SELECT a.iter + 1, a.node FROM alive a
      WHERE a.iter < 12 AND (
        SELECT COUNT(*) FROM dir d JOIN alive b
          ON b.node = d.y AND b.iter = a.iter
        WHERE d.x = a.node) >= 64
    )
    SELECT a.node, CAST((SELECT COUNT(*) FROM dir d JOIN alive b
        ON b.node = d.y AND b.iter = 12 WHERE d.x = a.node) AS BIGINT)
      AS core_deg
    FROM alive a WHERE a.iter = 12
    ORDER BY node ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q168
  /** Per-node local clustering coefficient — q157's census localized:
    * for every part, its triangle count t(w) and local CC =
    * 2·t(w)/(d(w)·(d(w)−1)) in ppm (NULL at degree ≤ 1). The census
    * says how clique-like co-purchasing is overall; THIS table names
    * the nodes — high-CC parts sit in tight accessory bundles (and on
    * a near-dup pair graph, high-CC docs sit in coherent duplicate
    * communities, low-CC docs are hub-bridge false-positive suspects —
    * the per-node dedup-QA view).
    *
    * Same build as [[triangleCensus]] (canonical edges → degrees →
    * (deg, id)-orientation → sorted out-adjacency, cut at the same
    * boundaries; the Σ outdeg² ≤ m^1.5 bound and the broadcast gate
    * carry over). The one addition: the closure uses the native
    * array-RETURNING [[graft.functions.expressions.SortedIntersect]] —
    * each oriented edge (u→v) credits u and v with |N⁺(u) ∩ N⁺(v)| and
    * every common out-neighbor w with 1, so each triangle credits all
    * THREE corners exactly once. The credit stream is 3·Δ rows total
    * (cut once, feeds one node-keyed aggregate) — triangle-volume, not
    * wedge-volume. Oracle: the 3-way equi-join triangle enumeration
    * with a UNION ALL corner credit.
    *
    * This entry takes an already-materialized canonical edge frame
    * (the registered q168 reads the memoized [[coPurchaseEdges]] view). */
  private[graft] def localClusteringOnEdges(edges: DataFrame): DataFrame = {
    val (deg, adj) = orientedAdjacency(edges)
    localClusteringOnAdj(edges, deg, adj)
  }

  /** Per-node closure over pre-built (degree, adjacency) views — the
    * registered q168 reads the memoized [[copurchaseAdj]] pair
    * (round 17). */
  private[graft] def localClusteringOnAdj(edges: DataFrame, deg: DataFrame,
      adj: DataFrame): DataFrame = {
    val nEdges = edges.count()
    def side(df: DataFrame) =
      if (nEdges <= TriAdjBroadcastMaxEdges) broadcast(df) else df
    val inter = Materialize.cut(adj
      .select(col("src"), col("nbrs").as("nu"), explode(col("nbrs")).as("dst"))
      .join(side(adj.select(col("src").as("rv"), col("nbrs").as("nv"))),
        col("dst") === col("rv"))
      .select(col("src"), col("dst"),
        call_function("graft_sorted_intersect", col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0))
    val credits = inter
      .select(col("src").as("node"), size(col("ws")).cast("long").as("c"))
      .unionByName(inter
        .select(col("dst").as("node"), size(col("ws")).cast("long").as("c")))
      .unionByName(inter
        .select(explode(col("ws")).as("node"), lit(1L).as("c")))
    val tri = credits.groupBy(col("node")).agg(sum(col("c")).as("tri"))
    deg.join(tri, Seq("node"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .withColumn("cc_ppm", expr("""CAST(
        CAST(tri AS DECIMAL(38,0)) * 2000000
        div NULLIF(CAST(d AS DECIMAL(38,0)) * (d - 1), CAST(0 AS DECIMAL(38,0)))
        AS BIGINT)"""))
      .select(col("node"), col("d").as("degree"),
        col("tri").as("n_triangles"), col("cc_ppm"))
      .orderBy(col("node").asc_nulls_first)
  }

  val q168 = QueryDef(
    "q168_local_clustering",
    (spark, dir) => {
      val (deg, adj) = copurchaseAdj(spark, dir)
      localClusteringOnAdj(coPurchaseEdges(spark, dir), deg, adj)
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
            GROUP BY node),
    tri3 AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             FROM e e1 JOIN e e2 ON e2.u = e1.v
             JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    cr AS (SELECT a AS node FROM tri3
           UNION ALL SELECT b FROM tri3
           UNION ALL SELECT c FROM tri3),
    t AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM cr GROUP BY node)
    SELECT deg.node, deg.d AS degree,
      COALESCE(t.tri, 0) AS n_triangles,
      CAST(CAST(COALESCE(t.tri, 0) AS HUGEINT) * 2000000
        // NULLIF(CAST(deg.d AS HUGEINT) * (deg.d - 1), 0) AS BIGINT) AS cc_ppm
    FROM deg LEFT JOIN t USING (node)
    ORDER BY node ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q176
  /** Winsorization report — the robust-preprocessing sibling of q112's
    * MAD outliers: per event type, the exact p01/p99 clip bounds and
    * how much of the feed they would clip on each side. Training
    * pipelines winsorize heavy-tailed features before normalization
    * (one corrupted sensor must not set the scale); the report is the
    * decision table for where to pin the clamps.
    *
    * Boundary determinism: the interpolated percentiles are computed
    * by the same exact-percentile machinery both engines define
    * (`percentile` ↔ `quantile_cont`, the q35 pairing) and then ROUNDED
    * to 6 dp before they enter the clip predicates, so both engines
    * compare against the identical double and the clip counts cannot
    * disagree by an interpolation ulp. Counts and the ppm are exact
    * integers.
    *
    * Shape: one per-type percentile aggregate (|types| rows, broadcast
    * back) + one counting re-scan — two passes, no shuffle beyond the
    * type key. */
  val q176 = QueryDef(
    "q176_winsorize",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("event_type"), col("value"))
      val bounds = e.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.01)"), 6).as("lo"),
          round(expr("percentile(value, 0.99)"), 6).as("hi"))
      e.join(broadcast(bounds), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          first(col("lo")).as("lo"),
          first(col("hi")).as("hi"),
          sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
          sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clipped_high"))
        .withColumn("clipped_ppm",
          expr("""CAST((n_clipped_low + n_clipped_high) AS DECIMAL(28,0))
            * 1000000 div n_events"""))
        .orderBy(col("event_type").asc_nulls_first)
    },
    Some("""WITH b AS (
      SELECT event_type,
        ROUND(quantile_cont(value, 0.01), 6) AS lo,
        ROUND(quantile_cont(value, 0.99), 6) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_type,
      COUNT(*) AS n_events,
      MIN(b.lo) AS lo,
      MIN(b.hi) AS hi,
      CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
        AS n_clipped_low,
      CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
        AS n_clipped_high,
      CAST((SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END)
        + SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END)) * 1000000
        // COUNT(*) AS BIGINT) AS clipped_ppm
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    ORDER BY event_type ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q166
  /** Per-user recency-weighted engagement score — the weighting column
    * a recency-biased training-data sampler draws against (recent
    * activity matters more; the decay must be exact so the sample is
    * reproducible across engines and retries). Half-life = 1 day in
    * EXACT integer arithmetic: weight(age) = 1000000 >> age (floor
    * halving per day of a positive int — identical to
    * 1000000 div 2^age), zero from age 20 up (2^20 > 10^6), so no
    * float pow and no rounding-mode drift anywhere. The reference day
    * is the corpus' latest event day, a 1-row broadcast (q161's
    * scalar-aggregate pattern, no driver collect).
    *
    * Shape: ONE map pass (date cast + shift) into ONE user-keyed hash
    * aggregate — map-side combinable, distributes on the
    * high-cardinality key; the total (score DESC, user ASC) order is
    * the output contract. At 100 TB this is a pure scan-aggregate,
    * the q01 class. */
  val q166 = QueryDef(
    "q166_recency_score",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val ref = e.agg(max(col("day")).as("ref"))
      e.crossJoin(broadcast(ref))
        .withColumn("age", datediff(col("ref"), col("day")))
        .withColumn("w", when(col("age") >= 20, lit(0L))
          .otherwise(expr("shiftright(1000000L, CAST(age AS INT))")))
        .groupBy(col("user_id"))
        .agg(sum(col("w")).as("score"),
          count(lit(1)).as("n_events"),
          max(col("day")).as("last_seen"))
        .orderBy(col("score").desc_nulls_last, col("user_id").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    r AS (SELECT MAX(day) AS ref FROM e)
    SELECT user_id,
      CAST(SUM(CASE WHEN date_diff('day', day, ref) >= 20 THEN 0
        ELSE 1000000 // CAST(POWER(2, date_diff('day', day, ref)) AS BIGINT)
        END) AS BIGINT) AS score,
      COUNT(*) AS n_events,
      MAX(day) AS last_seen
    FROM e, r
    GROUP BY user_id
    ORDER BY score DESC NULLS LAST, user_id ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q190
  /** Deterministic count-min sketch — the FREQUENCY sibling of q178's
    * deterministic HLL: d = 4 hash rows × w = 65536 counters over item
    * (part) occurrence counts, estimates read as the row-wise minimum,
    * reported for the top-20 exact-count items with the exact count and
    * the one-sided overcount beside them (CMS never undercounts —
    * `est ≥ exact` is the sketch's guarantee and the spec asserts it
    * for EVERY key, not just the top 20).
    *
    * Like q178, the sketch is built from pure md5 integer arithmetic —
    * bucket(j, k) = first 16 bits of md5(j || ':' || k) — so BOTH
    * engines materialize bit-identical counter tables and the oracle
    * checks the estimates exactly, which no library sketch
    * (`count_min_sketch()` et al.) allows. Counters sum-merge
    * (spec-asserted law: the sketch of a union feed is the elementwise
    * sum of per-day sketches), making this the incremental/streaming
    * counterpart of exact per-key counts when the key space no longer
    * fits: state is ≤ d·w longs FOREVER, vs one counter per key.
    *
    * Scale: ONE feed aggregate to the |keys|-sized exact frame (cut:
    * the sketch build and the top-k probe both consume it), then a
    * 4×-exploded map over THAT frame (never over the feed) into a
    * map-side-combinable (j, bucket) sum — the shuffle carries ≤ d·w
    * rows per mapper. The probe side is 20 keys × 4 rows joined against
    * a broadcast counter table. At 100 TB the exact frame is the only
    * corpus-sized stage (the q01 scan-aggregate class); a pure
    * streaming deployment drops even that and feeds the counters
    * directly (the q181 stored-state pattern). */
  /** CMS bucket for hash row `j` and key `k` — first 16 md5 bits of
    * "j:k" (the q178/q190 pure-integer contract). */
  private[graft] def cmsBucket(j: Column, k: Column): Column =
    conv(substring(md5(concat(j.cast("string"), lit(":"),
      k.cast("string")).cast("binary")), 1, 4), 16, 10)
      .cast(IntegerType)

  /** The d=4 × w=65536 counter table over an exact `(k, n_exact)`
    * frame — q190's sketch build, factored so ScaleProbe's `cms` mode
    * drives the production code on replicated key spaces. */
  private[graft] def cmsCountersOf(exact: DataFrame): DataFrame =
    exact
      .withColumn("j", explode(sequence(lit(0), lit(3))))
      .withColumn("bucket", cmsBucket(col("j"), col("k")))
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("n_exact")).as("c"))

  /** Row-min CMS estimates for a (small) probe key frame against the
    * counter table — the read side of the sketch, broadcast-joined. */
  private[graft] def cmsEstimates(probe: DataFrame, counters: DataFrame): DataFrame =
    probe
      .withColumn("j", explode(sequence(lit(0), lit(3))))
      .withColumn("bucket", cmsBucket(col("j"), col("k")))
      .join(broadcast(counters), Seq("j", "bucket"))
      .groupBy(col("k"), col("n_exact"))
      .agg(min(col("c")).as("n_est"))

  val q190 = QueryDef(
    "q190_countmin",
    (spark, dir) => {
      val exact = graft.Materialize.cut(
        Tables(spark, dir).lineitem
          .groupBy(col("l_partkey").as("k"))
          .agg(count(lit(1)).as("n_exact")))
      val counters = cmsCountersOf(exact)
      val top = exact
        .orderBy(col("n_exact").desc, col("k").asc_nulls_first)
        .limit(20)
      cmsEstimates(top, counters)
        .select(col("k").as("part_key"), col("n_exact"), col("n_est"),
          (col("n_est") - col("n_exact")).as("overcount"))
        .orderBy(col("n_exact").desc, col("part_key").asc_nulls_first)
    },
    Some("""WITH exact AS (
      SELECT l_partkey AS k, COUNT(*) AS n_exact FROM lineitem GROUP BY 1),
    d AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS d(j)),
    counters AS (
      SELECT j,
        CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 4)) AS INTEGER) AS bucket,
        CAST(SUM(n_exact) AS BIGINT) AS c
      FROM exact CROSS JOIN d GROUP BY 1, 2),
    top AS (
      SELECT k, n_exact FROM exact
      ORDER BY n_exact DESC, k ASC LIMIT 20),
    probe AS (
      SELECT k, n_exact, j,
        CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 4)) AS INTEGER) AS bucket
      FROM top CROSS JOIN d),
    est AS (
      SELECT p.k, p.n_exact, MIN(c.c) AS n_est
      FROM probe p JOIN counters c ON c.j = p.j AND c.bucket = p.bucket
      GROUP BY 1, 2)
    SELECT k AS part_key, n_exact, n_est, n_est - n_exact AS overcount
    FROM est
    ORDER BY n_exact DESC, part_key ASC"""))

  // --------------------------------------------------------------- q191
  /** Multi-feature OLS (2 regressors + intercept) via one-pass normal
    * equations — the "fit a linear probe over the whole corpus in one
    * scan" shape that q109 provides for a single regressor: per return
    * flag, extendedprice ~ b0 + b1·quantity + b2·discount. The whole
    * fit reduces to TEN per-group sums (n, Σx₁, Σx₂, Σx₁², Σx₁x₂, Σx₂²,
    * Σy, Σx₁y, Σx₂y, Σy²) — ONE map-side-combinable hash aggregate,
    * then the 3×3 system X'X·b = X'y solved per group by Cramer's rule
    * in pure scalar math. No second pass, no per-group sort, state
    * O(groups · d²) — the d² growth is why full normal equations stop
    * at modest d and 100 TB regressions with wide d go through
    * gradient passes instead; at d = 2 this IS the optimal plan.
    *
    * Determinism (the q109 contract): every sum accumulates exact
    * DECIMAL (scale-4 products keep unscaled int64 for DuckDB's decimal
    * multiply — see q109's width note); both engines then evaluate the
    * IDENTICAL fixed-shape double expression (shared cofactor terms,
    * same parenthesization) over identical stats, rounded at the end.
    * Native `regr_*` aggregates in both engines are rejected for
    * reduction-order double accumulation. */
  val q191 = QueryDef(
    "q191_multi_regression",
    (spark, dir) => {
      val li = Tables(spark, dir).lineitem.select(
        col("l_returnflag"),
        col("l_quantity").cast(DecimalType(18, 2)).as("x1"),
        col("l_discount").cast(DecimalType(18, 2)).as("x2"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("y"))
      val s = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n_pts"),
        count(lit(1)).cast(DoubleType).as("n"),
        sum(col("x1")).cast(DoubleType).as("s1"),
        sum(col("x2")).cast(DoubleType).as("s2"),
        sum(col("x1") * col("x1")).cast(DoubleType).as("s11"),
        sum(col("x1") * col("x2")).cast(DoubleType).as("s12"),
        sum(col("x2") * col("x2")).cast(DoubleType).as("s22"),
        sum(col("y")).cast(DoubleType).as("sy"),
        sum(col("x1") * col("y")).cast(DoubleType).as("s1y"),
        sum(col("x2") * col("y")).cast(DoubleType).as("s2y"),
        sum(col("y") * col("y")).cast(DoubleType).as("syy"))
      // shared 2×2 cofactors — the same intermediates the oracle names,
      // so the double expression SHAPE is identical in both engines
      val withCof = s
        .withColumn("cA", col("s11") * col("s22") - col("s12") * col("s12"))
        .withColumn("cB", col("s1") * col("s22") - col("s12") * col("s2"))
        .withColumn("cC", col("s1") * col("s12") - col("s11") * col("s2"))
        .withColumn("det",
          col("n") * col("cA") - col("s1") * col("cB") + col("s2") * col("cC"))
        .withColumn("b0",
          (col("sy") * col("cA")
            - col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
            + col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y")))
            / col("det"))
        .withColumn("b1",
          (col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
            - col("sy") * col("cB")
            + col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2")))
            / col("det"))
        .withColumn("b2",
          (col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12"))
            - col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
            + col("sy") * col("cC"))
            / col("det"))
        .withColumn("sse", col("syy") - col("b0") * col("sy")
          - col("b1") * col("s1y") - col("b2") * col("s2y"))
        .withColumn("sst", col("syy") - col("sy") * col("sy") / col("n"))
      withCof.select(
          col("l_returnflag"), col("n_pts"),
          round(col("b0"), 4).as("b0"),
          round(col("b1"), 6).as("b1"),
          round(col("b2"), 6).as("b2"),
          round(lit(1.0) - col("sse") / col("sst"), 6).as("r2"))
        .orderBy(col("l_returnflag").asc_nulls_first)
    },
    Some("""WITH s AS (
      SELECT l_returnflag,
        COUNT(*) AS n_pts,
        CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s2,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s11,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s12,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s22,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1y,
        CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s2y,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag),
    cof AS (
      SELECT *,
        s11*s22 - s12*s12 AS cA,
        s1*s22 - s12*s2 AS cB,
        s1*s12 - s11*s2 AS cC
      FROM s),
    det AS (
      SELECT *, n*cA - s1*cB + s2*cC AS det FROM cof),
    beta AS (
      SELECT *,
        (sy*cA - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / det AS b0,
        (n*(s1y*s22 - s12*s2y) - sy*cB + s2*(s1*s2y - s1y*s2)) / det AS b1,
        (n*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*cC) / det AS b2
      FROM det),
    fit AS (
      SELECT *,
        syy - b0*sy - b1*s1y - b2*s2y AS sse,
        syy - sy*sy/n AS sst
      FROM beta)
    SELECT l_returnflag, n_pts,
      round(b0, 4) AS b0,
      round(b1, 6) AS b1,
      round(b2, 6) AS b2,
      round(1.0 - sse/sst, 6) AS r2
    FROM fit
    ORDER BY l_returnflag ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q193
  /** Deterministic mergeable quantile sketch — the QUANTILE member of
    * the deterministic-sketch family (q178 distinct, q190 frequency):
    * DDSketch's log-binned histogram (Masson et al., VLDB '19)
    * realized in pure integer arithmetic so both engines materialize
    * bit-identical bins and the oracle checks the whole gauge exactly —
    * which no `approx_percentile`/`quantile` library sketch allows
    * (both engines' native quantile sketches are sampling- or
    * merge-order-dependent).
    *
    * Binning: prices in cents take bucket `16·b + sub` where
    * b = ⌊log₂(cents)⌋ = length(bin(cents)) − 1 (a STRING length, no
    * transcendental) and sub = the next 4 bits after the leading one —
    * 16 sub-bins per octave, so every bin spans a (1 + 1/16)× range
    * and any quantile is answered within ≤ 6.25% relative error
    * (spec-proved against exact driver-side quantiles, alongside the
    * bin-containment guarantee lo ≤ q_true < hi). Cents < 16 get exact
    * unit bins (ids 0–15; octave ids start at 64 — disjoint by
    * construction). The p-th percentile is the value at rank
    * ⌈p·n/100⌉ (disc definition — integer position arithmetic, q124's
    * rule, no interpolation knife edges).
    *
    * Mergeability: bins sum-merge (same law as q190's counters,
    * spec-asserted there; the identical property makes this the stored
    * state for incremental / streaming percentile gauges — one
    * ≤ 16·64-long page per group, forever).
    *
    * Scale: ONE map pass (string-length bin) into ONE map-side-
    * combinable (group, bin) count — the shuffle carries bins, never
    * values; the finishing cumsum window runs over the ≤ 1024-row
    * per-group dimension frame. The q01 scan-aggregate class with
    * O(groups·1024) state, vs an exact per-group quantile which needs
    * a sort or GlobalRank pass per group. */
  /** The q193 finishing stage over any `(g, v)` frame (v a non-negative
    * long): log-bin, count, cumsum over the bounded per-group frame,
    * pick p50/p90/p99 bins by the ⌈p·n/100⌉ rank rule, emit integer
    * bin bounds. Shared by q193 (prices per return flag) and q201
    * (funnel hop latencies) — the gauge math cannot drift between its
    * consumers. */
  /** Per-(keys, bin) count pages over a (keys..., v ≥ 0) frame — the
    * MERGEABLE half of the q193 sketch (bins sum-merge, the property
    * q213's stored pages ride). */
  private[graft] def quantileBinsBy(vals: DataFrame, keys: Seq[String]): DataFrame =
    vals
      .withColumn("b", (length(bin(col("v"))) - lit(1)).cast(LongType))
      .withColumn("id", when(col("v") < 16, col("v"))
        .otherwise(col("b") * 16 +
          (expr("shiftright(v, CAST(b - 4 AS INT))") - lit(16))))
      .groupBy(keys.map(col) :+ col("id"): _*)
      .agg(count(lit(1)).as("c"))

  private[graft] def quantileSketchGauge(vals: DataFrame): DataFrame =
    quantileFinish(quantileBinsBy(vals, Seq("g")))

  /** Lower/upper value bound of sketch bin `c` — the q193 bin-geometry
    * SQL, factored so every consumer of the bins (q193/q201/q213's
    * finishing walk, q219's sketch-winsorize bounds) shares ONE
    * definition. */
  private[graft] def quantBinLoSql(c: String): String =
    s"CASE WHEN $c < 64 THEN $c ELSE shiftleft(16 + $c % 16, CAST($c div 16 - 4 AS INT)) END"
  private[graft] def quantBinHiSql(c: String): String =
    s"CASE WHEN $c < 64 THEN $c + 1 ELSE ${quantBinLoSql(c)} + shiftleft(CAST(1 AS BIGINT), CAST($c div 16 - 4 AS INT)) END"

  /** The finishing stage over a (g, id, c) bin-count frame: cumulative
    * walk → p50/p90/p99 bin bounds. Accepts merged pages (any partition
    * of the feed summed per (g, id) gives the same counts). */
  private[graft] def quantileFinish(counts: DataFrame): DataFrame = {
      def loSql(c: String): String = quantBinLoSql(c)
      def hiSql(c: String): String = quantBinHiSql(c)
      val cum = counts.withColumn("cum",
        sum(col("c")).over(Window.partitionBy(col("g"))
          .orderBy(col("id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val totals = counts.groupBy(col("g")).agg(sum(col("c")).as("n"))
      def pickId(p: Int): Column =
        min(when(col("cum") >= expr(s"(n * $p + 99) div 100"), col("id")))
      val picked = cum.join(totals, "g")
        .groupBy(col("g"))
        .agg(max(col("n")).as("n"),
          pickId(50).as("id50"), pickId(90).as("id90"), pickId(99).as("id99"))
      picked.select(
          col("g"), col("n"),
          expr(loSql("id50")).as("p50_lo"), expr(hiSql("id50")).as("p50_hi"),
          expr(loSql("id90")).as("p90_lo"), expr(hiSql("id90")).as("p90_hi"),
          expr(loSql("id99")).as("p99_lo"), expr(hiSql("id99")).as("p99_hi"))
  }

  val q193 = QueryDef(
    "q193_quantile_sketch",
    (spark, dir) => {
      val cents = Tables(spark, dir).lineitem.select(
        col("l_returnflag").as("g"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * lit(100))
          .cast(LongType).as("v"))
      quantileSketchGauge(cents)
        .withColumnRenamed("g", "l_returnflag")
        .orderBy(col("l_returnflag").asc_nulls_first)
    },
    Some("""WITH cents AS (
      SELECT l_returnflag,
        CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM lineitem),
    binned AS (
      SELECT l_returnflag,
        CASE WHEN cents < 16 THEN cents
          ELSE (length(bin(cents)) - 1) * 16
            + ((cents >> CAST(length(bin(cents)) - 5 AS INTEGER)) - 16)
        END AS id
      FROM cents),
    counts AS (
      SELECT l_returnflag, id, COUNT(*) AS c
      FROM binned GROUP BY 1, 2),
    cum AS (
      SELECT l_returnflag, id, c,
        SUM(c) OVER (PARTITION BY l_returnflag ORDER BY id ASC
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts),
    totals AS (
      SELECT l_returnflag, CAST(SUM(c) AS BIGINT) AS n
      FROM counts GROUP BY 1),
    picked AS (
      SELECT cum.l_returnflag, MAX(n) AS n,
        MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN id END) AS id50,
        MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN id END) AS id90,
        MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN id END) AS id99
      FROM cum JOIN totals USING (l_returnflag)
      GROUP BY 1)
    SELECT l_returnflag, n,
      CASE WHEN id50 < 64 THEN id50 ELSE (CAST(16 + id50 % 16 AS BIGINT) << CAST(id50 // 16 - 4 AS INTEGER)) END AS p50_lo,
      CASE WHEN id50 < 64 THEN id50 + 1 ELSE ((CAST(16 + id50 % 16 AS BIGINT) << CAST(id50 // 16 - 4 AS INTEGER))) + (CAST(1 AS BIGINT) << CAST(id50 // 16 - 4 AS INTEGER)) END AS p50_hi,
      CASE WHEN id90 < 64 THEN id90 ELSE (CAST(16 + id90 % 16 AS BIGINT) << CAST(id90 // 16 - 4 AS INTEGER)) END AS p90_lo,
      CASE WHEN id90 < 64 THEN id90 + 1 ELSE ((CAST(16 + id90 % 16 AS BIGINT) << CAST(id90 // 16 - 4 AS INTEGER))) + (CAST(1 AS BIGINT) << CAST(id90 // 16 - 4 AS INTEGER)) END AS p90_hi,
      CASE WHEN id99 < 64 THEN id99 ELSE (CAST(16 + id99 % 16 AS BIGINT) << CAST(id99 // 16 - 4 AS INTEGER)) END AS p99_lo,
      CASE WHEN id99 < 64 THEN id99 + 1 ELSE ((CAST(16 + id99 % 16 AS BIGINT) << CAST(id99 // 16 - 4 AS INTEGER))) + (CAST(1 AS BIGINT) << CAST(id99 // 16 - 4 AS INTEGER)) END AS p99_hi
    FROM picked
    ORDER BY l_returnflag ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q197
  /** ANALYZE-style column statistics — the optimizer-catalog pass a CBO
    * (and every capacity plan) runs over a lake table: per key column,
    * row count, null count, min/max, and the distinct count BOTH ways —
    * exact, and estimated by the q178 deterministic-HLL registers built
    * over the SAME unpivoted pass. The estimate column is the one that
    * matters at 100 TB (register pages sum-merge per partition, so
    * stats MAINTAIN incrementally — the q181 pattern — while the exact
    * ndv needs a full re-aggregate); the exact column sits beside it to
    * make the sketch error visible, q184's convention.
    *
    * Scale: ONE unpivot map pass (`stack` — rows × |cols|, no join)
    * feeding two map-side-combinable aggregates: the moment frame
    * (|cols| rows) and the register pages (≤ |cols|×256 rows). Nothing
    * else touches the table. */
  val q197 = QueryDef(
    "q197_column_stats",
    (spark, dir) => {
      val cols = Tables(spark, dir).lineitem.select(
        expr("stack(3, 'l_orderkey', l_orderkey, 'l_partkey', l_partkey, " +
          "'l_suppkey', l_suppkey) AS (col_name, v)"))
      val stacked = graft.Materialize.cut(cols)
      val moments = stacked.groupBy(col("col_name")).agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_nulls"),
        min(col("v")).as("min_v"),
        max(col("v")).as("max_v"),
        countDistinct(col("v")).as("ndv_exact"))
      val est = hllStatsOf(
        hllRegistersOf(stacked.filter(col("v").isNotNull),
          Seq("col_name"), "v"),
        Seq("col_name"))
        .select(col("col_name"), col("est").as("ndv_est"))
      moments.join(broadcast(est), Seq("col_name"))
        .orderBy(col("col_name").asc_nulls_first)
    },
    Some(s"""WITH stacked AS (
      SELECT 'l_orderkey' AS col_name, l_orderkey AS v FROM lineitem
      UNION ALL
      SELECT 'l_partkey', l_partkey FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', l_suppkey FROM lineitem),
    moments AS (
      SELECT col_name,
        COUNT(*) AS n_rows,
        COUNT(*) - COUNT(v) AS n_nulls,
        MIN(v) AS min_v,
        MAX(v) AS max_v,
        COUNT(DISTINCT v) AS ndv_exact
      FROM stacked GROUP BY col_name),
    h AS (
      SELECT col_name, md5(CAST(v AS VARCHAR)) AS h
      FROM stacked WHERE v IS NOT NULL),
    r AS (
      SELECT col_name,
        CAST(('0x' || substr(h, 1, 2)) AS INTEGER) AS bucket,
        regexp_replace(substr(h, 3, 14), '^0*', '') AS t
      FROM h),
    regs AS (
      SELECT col_name, bucket, MAX($hllRankSql) AS m
      FROM r GROUP BY col_name, bucket),
    stats AS (
      SELECT col_name,
        CAST(COUNT(*) AS INT) AS present_buckets,
        CAST(256 - COUNT(*) AS INT) AS zero_buckets,
        SUM((CAST(1 AS BIGINT) << (57 - m))::HUGEINT)
          + (256 - COUNT(*))::HUGEINT * 144115188075855872::HUGEINT AS reg_sum
      FROM regs GROUP BY col_name)
    SELECT m.col_name, m.n_rows, m.n_nulls, m.min_v, m.max_v, m.ndv_exact,
      $hllEstSql AS ndv_est
    FROM moments m JOIN stats ON stats.col_name = m.col_name
    ORDER BY m.col_name ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q199
  /** CMS join-size estimation — the INNER-PRODUCT half of the count-min
    * algebra (Cormode–Muthukrishnan '05 §4.2), doing for q190's
    * frequency sketches what q184 did for q178's HLL registers: the
    * equi-join cardinality |A ⋈ B| = Σₖ f_A(k)·f_B(k) is estimated as
    * minⱼ Σ_b cmsA[j][b]·cmsB[j][b] — from COUNTER PAGES ALONE, no data
    * read — which is exactly what a join planner wants from stored
    * stats state at 100 TB (pages sum-merge per partition, the q181
    * maintenance story). The estimate is one-sided (never
    * undercounts, same guarantee as the point query — spec-asserted),
    * and the exact join size sits beside it with the overcount in ppm,
    * q184's error-visible convention. Two join shapes side by side:
    * the fan-out self-join (lineitem×lineitem on partkey, Σf² — the
    * shape that explodes) and the key-unique dim join (lineitem×orders
    * on orderkey).
    *
    * Scale: each side is one per-key count to its keys frame, one
    * bounded counter build (≤ d·w rows); the estimate joins two
    * ≤ 262k-row counter tables on (j, bucket) and the exact twin is
    * one keys-frame equi-join — nothing corpus×corpus anywhere. */
  val q199 = QueryDef(
    "q199_cms_join_estimate",
    (spark, dir) => {
      val t = Tables(spark, dir)
      def freqs(df: DataFrame, key: String): DataFrame =
        graft.Materialize.cut(
          df.groupBy(col(key).as("k")).agg(count(lit(1)).as("n_exact")))
      def pair(name: String, fa: DataFrame, fb: DataFrame): DataFrame = {
        val ca = cmsCountersOf(fa).select(col("j"), col("bucket"), col("c").as("ca"))
        val cb = cmsCountersOf(fb).select(col("j"), col("bucket"), col("c").as("cb"))
        val est = ca.join(cb, Seq("j", "bucket"))
          .groupBy(col("j"))
          .agg(sum(col("ca") * col("cb")).as("ip"))
          .agg(min(col("ip")).as("est_pairs"))
        val exact = fa.select(col("k"), col("n_exact").as("na"))
          .join(fb.select(col("k"), col("n_exact").as("nb")), Seq("k"))
          .agg(sum(col("na") * col("nb")).as("exact_pairs"))
        est.crossJoin(exact).select(lit(name).as("pair"),
          col("est_pairs"), col("exact_pairs"),
          expr("(est_pairs - exact_pairs) * 1000000 div exact_pairs")
            .as("over_ppm"))
      }
      val li = freqs(t.lineitem, "l_partkey")
      val lo = freqs(t.lineitem, "l_orderkey")
      val oo = freqs(t.orders, "o_orderkey")
      pair("lineitem*lineitem:partkey", li, li)
        .unionByName(pair("lineitem*orders:orderkey", lo, oo))
        .orderBy(col("pair").asc_nulls_first)
    },
    Some("""WITH fa1 AS (
      SELECT l_partkey AS k, COUNT(*) AS n FROM lineitem GROUP BY 1),
    fa2 AS (
      SELECT l_orderkey AS k, COUNT(*) AS n FROM lineitem GROUP BY 1),
    fb2 AS (
      SELECT o_orderkey AS k, COUNT(*) AS n FROM orders GROUP BY 1),
    d AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS d(j)),
    c1 AS (
      SELECT j,
        CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 4)) AS INTEGER) AS bucket,
        CAST(SUM(n) AS BIGINT) AS c
      FROM fa1 CROSS JOIN d GROUP BY 1, 2),
    c2a AS (
      SELECT j,
        CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 4)) AS INTEGER) AS bucket,
        CAST(SUM(n) AS BIGINT) AS c
      FROM fa2 CROSS JOIN d GROUP BY 1, 2),
    c2b AS (
      SELECT j,
        CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 4)) AS INTEGER) AS bucket,
        CAST(SUM(n) AS BIGINT) AS c
      FROM fb2 CROSS JOIN d GROUP BY 1, 2),
    est1 AS (
      SELECT CAST(MIN(ip) AS BIGINT) AS est_pairs FROM (
        SELECT a.j, SUM(a.c * b.c) AS ip
        FROM c1 a JOIN c1 b ON a.j = b.j AND a.bucket = b.bucket
        GROUP BY a.j)),
    ex1 AS (
      SELECT CAST(SUM(a.n * b.n) AS BIGINT) AS exact_pairs
      FROM fa1 a JOIN fa1 b ON a.k = b.k),
    est2 AS (
      SELECT CAST(MIN(ip) AS BIGINT) AS est_pairs FROM (
        SELECT a.j, SUM(a.c * b.c) AS ip
        FROM c2a a JOIN c2b b ON a.j = b.j AND a.bucket = b.bucket
        GROUP BY a.j)),
    ex2 AS (
      SELECT CAST(SUM(a.n * b.n) AS BIGINT) AS exact_pairs
      FROM fa2 a JOIN fb2 b ON a.k = b.k)
    SELECT 'lineitem*lineitem:partkey' AS pair, est1.est_pairs, ex1.exact_pairs,
      CAST((est1.est_pairs - ex1.exact_pairs) * 1000000 // ex1.exact_pairs AS BIGINT) AS over_ppm
    FROM est1, ex1
    UNION ALL
    SELECT 'lineitem*orders:orderkey', est2.est_pairs, ex2.exact_pairs,
      CAST((est2.est_pairs - ex2.exact_pairs) * 1000000 // ex2.exact_pairs AS BIGINT) AS over_ppm
    FROM est2, ex2
    ORDER BY pair ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q198
  /** Join-skew advisor — the decision table you read BEFORE reaching for
    * q72's salted join: per candidate join key, the frequency histogram
    * summary (distinct keys, max/mean per-key multiplicity, the p99 key
    * frequency) and the derived knobs — the hottest key's share of the
    * table in exact ppm, and the salt fan-out that caps any one
    * (key, salt) bucket at the MEAN load (`ceil(max/mean)` — 1 means
    * "don't salt"). Two key columns side by side make the report the
    * comparison the planner actually performs.
    *
    * Everything is exact integer arithmetic: mean as `n div keys`
    * stays a ratio inside the derived expressions (max·keys vs n), p99
    * by the ⌈p·k/100⌉ rank rule over the per-key count frame (q193's
    * rule). The per-key count frame is the only corpus-sized aggregate;
    * its own percentile runs over |keys| rows via one keyed window —
    * at catalog scale this report is itself maintainable from stored
    * per-partition count pages (counts sum-merge, the q190 law).
    *
    * Scale: one map-side-combinable count per key column + a
    * cumulative window over the count-histogram (counts-of-counts,
    * ≤ distinct multiplicities rows) — never a global row sort. */
  val q198 = QueryDef(
    "q198_skew_advisor",
    (spark, dir) => {
      val t = Tables(spark, dir)
      def report(keyed: DataFrame): DataFrame = {
        val freq = keyed.groupBy(col("col_name"), col("k"))
          .agg(count(lit(1)).as("f"))
        // counts-of-counts: the ≤|multiplicities| histogram the p99
        // rank walks (never a window over the |keys| frame's row order)
        val hist = freq.groupBy(col("col_name"), col("f"))
          .agg(count(lit(1)).as("nk"))
        val cum = hist.withColumn("cum",
          sum(col("nk")).over(Window.partitionBy(col("col_name"))
            .orderBy(col("f").asc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = freq.groupBy(col("col_name")).agg(
          count(lit(1)).as("n_keys"),
          sum(col("f")).as("n_rows"),
          max(col("f")).as("max_f"))
        cum.join(tot, Seq("col_name"))
          .groupBy(col("col_name"))
          .agg(max(col("n_keys")).as("n_keys"),
            max(col("n_rows")).as("n_rows"),
            max(col("max_f")).as("max_f"),
            min(when(col("cum") >= expr("(n_keys * 99 + 99) div 100"),
              col("f"))).as("p99_f"))
      }
      // one scan for both key columns (q197's stack unpivot, not a
      // two-scan union)
      val li = t.lineitem.select(
        expr("stack(2, 'l_orderkey', l_orderkey, 'l_suppkey', l_suppkey) " +
          "AS (col_name, k)"))
      report(li)
        .select(col("col_name"), col("n_keys"), col("n_rows"),
          col("max_f"), col("p99_f"),
          expr("max_f * 1000000 div n_rows").as("hot_key_ppm"),
          expr("(max_f * n_keys + n_rows - 1) div n_rows").as("salt_factor"))
        .orderBy(col("col_name").asc_nulls_first)
    },
    Some("""WITH keyed AS (
      SELECT 'l_orderkey' AS col_name, l_orderkey AS k FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', l_suppkey FROM lineitem),
    freq AS (
      SELECT col_name, k, COUNT(*) AS f
      FROM keyed GROUP BY 1, 2),
    hist AS (
      SELECT col_name, f, COUNT(*) AS nk
      FROM freq GROUP BY 1, 2),
    cum AS (
      SELECT col_name, f, nk,
        SUM(nk) OVER (PARTITION BY col_name ORDER BY f ASC
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM hist),
    tot AS (
      SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_keys,
        CAST(SUM(f) AS BIGINT) AS n_rows,
        CAST(MAX(f) AS BIGINT) AS max_f
      FROM freq GROUP BY 1),
    picked AS (
      SELECT cum.col_name,
        MAX(n_keys) AS n_keys, MAX(n_rows) AS n_rows, MAX(max_f) AS max_f,
        CAST(MIN(CASE WHEN cum >= (n_keys * 99 + 99) // 100 THEN f END)
          AS BIGINT) AS p99_f
      FROM cum JOIN tot ON tot.col_name = cum.col_name
      GROUP BY 1)
    SELECT col_name, n_keys, n_rows, max_f, p99_f,
      CAST(max_f * 1000000 // n_rows AS BIGINT) AS hot_key_ppm,
      CAST((max_f * n_keys + n_rows - 1) // n_rows AS BIGINT) AS salt_factor
    FROM picked
    ORDER BY col_name ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q202
  /** Single-source BFS hop distance over the co-purchase graph — the
    * reachability/radius member of the graph family (q127 centrality,
    * q157/q168 closure, q163 cores): every node's minimum hop count from
    * a deterministic source (the graph's minimum part key), bounded at
    * [[BfsMaxHops]] hops. The "how far does influence spread" primitive
    * recommendation and contamination-propagation analyses start from.
    *
    * Algorithm: frontier-delta BFS — round h joins ONLY the nodes first
    * reached at h−1 against the undirected edge list (never the whole
    * reached set, and never edges × edges), anti-joins out already-seen
    * nodes, and unions the survivors in as the next frontier. Each round
    * is one equi-join + one anti join; total work across rounds is
    * O(Σ frontier degrees) ≤ O(|E|·maxHops) with frontier-sized (≤ |V|)
    * shuffles — the textbook Pregel BFS shape. Rounds are FIXED at
    * [[BfsMaxHops]] (a radius report, not a full transitive closure), so
    * the plan has a static depth; each frontier is checkpoint-cut so
    * lineage doesn't grow with rounds (q55's discipline).
    *
    * Determinism: hop counts are exact integers; the source is
    * `min(u)` — u < v on every canonical edge, so that IS the graph's
    * minimum endpoint — an aggregate in the plan, no driver collect.
    * Oracle: DuckDB recursive CTE bounded at the same hop count, MIN(hops)
    * per node. Reads the memoized [[coPurchaseEdges]] view (the
    * q157/q163/q168 convention). */
  private[graft] val BfsMaxHops = 3

  /** Frontier-delta BFS from the graph's minimum endpoint over a
    * canonical (u < v) edge frame — factored so the spec drives it on
    * hand-built graphs with known distances. Returns (node, hops). */
  private[graft] def bfsHops(edges: DataFrame, maxHops: Int): DataFrame = {
    // undirected adjacency: each canonical edge contributes both
    // directions. Deliberately NOT cut — callers pass a materialized
    // edge frame (the memoized view), so each round's join re-reads
    // that checkpoint twice, cheaper than re-materializing 2|E| rows
    val und = edges.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
    var frontier = Materialize.cut(
      edges.agg(min(col("u")).as("node")).withColumn("hops", lit(0)))
    // the frontier is a materialized cut each round, so its row count
    // is a cheap driver scalar — reuse it as the
    // [[VertexBroadcastMaxRows]] broadcast gate (round 17): under the
    // gate the hop join streams the edge checkpoint map-only instead of
    // re-shuffling 2|E| rows every round. The reached-set count is the
    // same scalars summed (1 source + every frontier), gating the
    // per-round seen-filter broadcast (round 18): under it the anti
    // join is map-side over the candidate stream, and running it
    // BEFORE the distinct means the round's one exchange moves only
    // the unseen survivors — the round-17 shape distinct'ed the FULL
    // Σ deg(frontier) candidate stream (measured sf0.1: 731 k rows in
    // hop 3) and then shuffled candidates × reached for the anti.
    var frontierCnt = 1L
    var reachedCnt = 1L
    var reached = frontier
    for (h <- 1 to maxHops) {
      val fSide = if (frontierCnt <= VertexBroadcastMaxRows)
        broadcast(frontier) else frontier
      val seen = reached.select(col("node"))
      val sSide = if (reachedCnt <= VertexBroadcastMaxRows)
        broadcast(seen) else seen
      frontier = Materialize.cut(
        fSide.join(und, col("node") === col("a"))
          .select(col("b").as("node"))
          .join(sSide, Seq("node"), "left_anti")
          .distinct()
          .withColumn("hops", lit(h)))
      reached = reached.unionByName(frontier)
      if (h < maxHops) {
        frontierCnt = frontier.count()
        reachedCnt += frontierCnt
      }
    }
    reached.orderBy(col("hops").asc_nulls_first, col("node").asc_nulls_first)
  }

  val q202 = QueryDef(
    "q202_bfs_hops",
    (spark, dir) => bfsHops(coPurchaseEdges(spark, dir), BfsMaxHops),
    Some("""WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
    und AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
    src AS (SELECT MIN(u) AS s FROM e),
    walk(node, hops) AS (
      SELECT s, 0 FROM src
      UNION
      SELECT und.b, walk.hops + 1
      FROM walk JOIN und ON und.a = walk.node
      WHERE walk.hops < 3)
    SELECT node, CAST(MIN(hops) AS INTEGER) AS hops
    FROM walk
    GROUP BY node
    ORDER BY hops ASC NULLS FIRST, node ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q203
  /** Histogram-based decision-split finding — the inner primitive of
    * every distributed GBDT/decision-tree trainer (XGBoost/LightGBM's
    * histogram method): for each candidate feature, the split point that
    * minimizes weighted binary Gini impurity of label `l_returnflag =
    * 'R'`, found from ONE pass of per-value label histograms — never a
    * per-split rescan and never a per-group row sort.
    *
    * Identity making the argmax exact: for a binary label, minimizing
    * weighted Gini Σ_side (n_s/N)·(1 − (p_s² + q_s²)/n_s²) is equivalent
    * to maximizing Σ_side p_s²/n_s, because (p² + q²)/n = 2p²/n − 2p + n
    * and Σp, Σn are split-invariant. So the score is the exact integral
    * `p_L²·10⁶ div n_L + p_R²·10⁶ div n_R` (DECIMAL-widened products per
    * contract rule 11, non-negative so div/`//` agree), and the argmax
    * breaks ties toward the smallest split point in both engines. The
    * reported `gain_scaled` subtracts the unsplit baseline p²·10⁶ div n.
    *
    * Shape: one stack-unpivot map pass (q197's idiom) into ONE
    * (feature, value) hash aggregate — candidate splits are the distinct
    * value grid, the histogram trick — then cumsum windows over the
    * per-feature value frame (bounded by value cardinality, the q156
    * class) and one argmax struct aggregate. At 100 TB the only
    * corpus-sized stage is the histogram aggregate (map-side
    * combinable); a deployment with continuous features pre-bins to a
    * fixed grid in the same map pass, changing nothing downstream. */
  val q203 = QueryDef(
    "q203_split_finder",
    (spark, dir) => {
      val li = Tables(spark, dir).lineitem.select(
        expr("""stack(2,
          'l_quantity', CAST(ROUND(l_quantity * 100) AS BIGINT),
          'l_discount', CAST(ROUND(l_discount * 100) AS BIGINT))
          AS (feature, xc)"""),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("pos"))
      val cells = li.groupBy(col("feature"), col("xc"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("p"))
      val run = Window.partitionBy(col("feature")).orderBy(col("xc").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(col("feature"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val scored = cells
        .withColumn("nl", sum(col("n")).over(run))
        .withColumn("pl", sum(col("p")).over(run))
        .withColumn("nt", sum(col("n")).over(all))
        .withColumn("pt", sum(col("p")).over(all))
        .filter(col("nl") < col("nt"))
        .withColumn("score",
          expr("""CAST(pl AS DECIMAL(38,0)) * pl * 1000000 div nl
            + CAST(pt - pl AS DECIMAL(38,0)) * (pt - pl) * 1000000 div (nt - nl)"""))
      scored.groupBy(col("feature"))
        .agg(max(struct(col("score"), (-col("xc")).as("nx"), col("xc"),
          col("nl"), col("pl"), col("nt"), col("pt"))).as("best"))
        .select(col("feature"),
          col("best.xc").as("split_cents"),
          col("best.nl").as("n_left"),
          (col("best.nt") - col("best.nl")).as("n_right"),
          col("best.pl").as("pos_left"),
          (col("best.pt") - col("best.pl")).as("pos_right"),
          col("best.score").as("score_scaled"),
          expr("""CAST(best.pt AS DECIMAL(38,0)) * best.pt * 1000000
            div best.nt""").as("base_score"))
        .withColumn("gain_scaled", col("score_scaled") - col("base_score"))
        .orderBy(col("feature").asc_nulls_first)
    },
    Some("""WITH li AS (
      SELECT 'l_quantity' AS feature,
        CAST(ROUND(l_quantity * 100) AS BIGINT) AS xc,
        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
      FROM lineitem
      UNION ALL
      SELECT 'l_discount', CAST(ROUND(l_discount * 100) AS BIGINT),
        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
      FROM lineitem),
    cells AS (
      SELECT feature, xc, COUNT(*) AS n, SUM(pos) AS p
      FROM li GROUP BY 1, 2),
    sc AS (
      SELECT feature, xc,
        SUM(n) OVER (PARTITION BY feature ORDER BY xc
          ROWS UNBOUNDED PRECEDING) AS nl,
        SUM(p) OVER (PARTITION BY feature ORDER BY xc
          ROWS UNBOUNDED PRECEDING) AS pl,
        SUM(n) OVER (PARTITION BY feature) AS nt,
        SUM(p) OVER (PARTITION BY feature) AS pt
      FROM cells),
    scored AS (
      SELECT feature, xc, nl, pl, nt, pt,
        CAST(CAST(pl AS HUGEINT) * pl * 1000000 // nl
          + CAST(pt - pl AS HUGEINT) * (pt - pl) * 1000000 // (nt - nl)
          AS BIGINT) AS score,
        row_number() OVER (PARTITION BY feature ORDER BY
          CAST(pl AS HUGEINT) * pl * 1000000 // nl
            + CAST(pt - pl AS HUGEINT) * (pt - pl) * 1000000 // (nt - nl) DESC,
          xc ASC) AS rn
      FROM sc WHERE nl < nt)
    SELECT feature, xc AS split_cents,
      CAST(nl AS BIGINT) AS n_left,
      CAST(nt - nl AS BIGINT) AS n_right,
      CAST(pl AS BIGINT) AS pos_left,
      CAST(pt - pl AS BIGINT) AS pos_right,
      score AS score_scaled,
      CAST(CAST(pt AS HUGEINT) * pt * 1000000 // nt AS BIGINT) AS base_score,
      score - CAST(CAST(pt AS HUGEINT) * pt * 1000000 // nt AS BIGINT)
        AS gain_scaled
    FROM scored WHERE rn = 1
    ORDER BY feature ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q206
  /** HITS hubs & authorities on the nation trade graph — the SECOND
    * centrality next to q127's PageRank, and the one that fits a
    * directed bipartite-flavored graph: customer nations that buy
    * broadly are HUBS, supplier nations bought from by good hubs are
    * AUTHORITIES (Kleinberg JACM '99). Three mutual-reinforcement
    * rounds: a ← Eᵀh, h ← E·a, each renormalized so max = 10⁹.
    *
    * Determinism (q127's fixed-point protocol): scores live in exact
    * integer parts-per-billion; products are DECIMAL-widened (rule 11),
    * the renormalization is the truncating integral divide both engines
    * define identically on non-negative operands — so after any number
    * of rounds the vectors are BIT-exact under any partitioning, and
    * the oracle unrolls the rounds as CTE layers. Max-normalization
    * (not the float L2 norm) is the standard integer-safe HITS variant;
    * the fixed round count replaces convergence detection (the q127
    * convention — centrality ranks stabilize in a handful of rounds).
    *
    * Scale: ONE corpus-sized stage (the same weighted-edge aggregation
    * q127 materializes, shared shape), then every round is an equi-join
    * + aggregate on the |nations|²-bounded edge frame with a 1-row max
    * broadcast (whitelisted tiny-stats pattern). Model state never
    * leaves the cluster. */
  private[graft] def hitsOnEdges(edges: DataFrame, nodes: DataFrame,
      rounds: Int): DataFrame = {
    val e = Materialize.cut(edges)
    val dec = DecimalType(38, 0)
    def renorm(raw0: DataFrame, key: String, out: String): DataFrame = {
      // cut: `raw` feeds BOTH the max renormalizer and the score join —
      // uncut, every round would re-execute its whole upstream chain
      // under each consumer and the plan would grow exponentially with
      // the round count (the Materialize discipline; each cut is a
      // |nodes|-row frame)
      val raw = Materialize.cut(raw0)
      val mx = raw.agg(max(col("raw")).as("mx"))
      // |nations|-bounded frames — broadcast is scale-safe (q127 note)
      nodes.join(broadcast(raw), nodes("node") === raw(key), "left")
        .crossJoin(broadcast(mx))
        .select(col("node"),
          expr(s"CAST(coalesce(raw, CAST(0 AS DECIMAL(38,0))) * ${PrScale}L div mx AS BIGINT)")
            .as(out))
    }
    var hub = nodes.withColumn("h", lit(PrScale))
    var auth = nodes.withColumn("a", lit(0L))
    for (_ <- 1 to rounds) {
      val araw = e.join(broadcast(hub), e("src") === hub("node"))
        .select(col("dst"), (col("w").cast(dec) * col("h")).as("p"))
        .groupBy(col("dst")).agg(sum(col("p")).as("raw"))
      auth = renorm(araw, "dst", "a")
      val hraw = e.join(broadcast(auth), e("dst") === auth("node"))
        .select(col("src"), (col("w").cast(dec) * col("a")).as("p"))
        .groupBy(col("src")).agg(sum(col("p")).as("raw"))
      hub = renorm(hraw, "src", "h")
    }
    hub.join(broadcast(auth), "node")
  }

  val q206 = QueryDef(
    "q206_hits",
    (spark, dir) => {
      val t = Tables(spark, dir)
      val nat = t.nation.select(col("n_nationkey"), col("n_name"))
      val edges = tradeEdgesView(spark, dir)
      val nodes = nat.select(col("n_name").as("node"))
      hitsOnEdges(edges, nodes, 3)
        .select(col("node").as("n_name"),
          col("h").as("hub_ppb"), col("a").as("auth_ppb"))
        .orderBy(col("n_name").asc_nulls_first)
    },
    Some("""WITH cust AS (
      SELECT c_custkey, n_name AS src FROM customer
      JOIN nation ON c_nationkey = n_nationkey),
    supp AS (
      SELECT s_suppkey, n_name AS dst FROM supplier
      JOIN nation ON s_nationkey = n_nationkey),
    edges AS (
      SELECT src, dst, COUNT(*) AS w
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN cust ON o_custkey = c_custkey
      JOIN supp ON l_suppkey = s_suppkey
      GROUP BY 1, 2),
    n0 AS (SELECT n_name AS node FROM nation),
    h0 AS (SELECT node, 1000000000 AS h FROM n0),
    a1r AS (SELECT e.dst, SUM(CAST(e.w AS HUGEINT) * h.h) AS raw
            FROM edges e JOIN h0 h ON h.node = e.src GROUP BY 1),
    a1 AS (SELECT n.node,
             CAST(COALESCE(r.raw, 0) * 1000000000 // (SELECT MAX(raw) FROM a1r) AS BIGINT) AS a
           FROM n0 n LEFT JOIN a1r r ON r.dst = n.node),
    h1r AS (SELECT e.src, SUM(CAST(e.w AS HUGEINT) * a.a) AS raw
            FROM edges e JOIN a1 a ON a.node = e.dst GROUP BY 1),
    h1 AS (SELECT n.node,
             CAST(COALESCE(r.raw, 0) * 1000000000 // (SELECT MAX(raw) FROM h1r) AS BIGINT) AS h
           FROM n0 n LEFT JOIN h1r r ON r.src = n.node),
    a2r AS (SELECT e.dst, SUM(CAST(e.w AS HUGEINT) * h.h) AS raw
            FROM edges e JOIN h1 h ON h.node = e.src GROUP BY 1),
    a2 AS (SELECT n.node,
             CAST(COALESCE(r.raw, 0) * 1000000000 // (SELECT MAX(raw) FROM a2r) AS BIGINT) AS a
           FROM n0 n LEFT JOIN a2r r ON r.dst = n.node),
    h2r AS (SELECT e.src, SUM(CAST(e.w AS HUGEINT) * a.a) AS raw
            FROM edges e JOIN a2 a ON a.node = e.dst GROUP BY 1),
    h2 AS (SELECT n.node,
             CAST(COALESCE(r.raw, 0) * 1000000000 // (SELECT MAX(raw) FROM h2r) AS BIGINT) AS h
           FROM n0 n LEFT JOIN h2r r ON r.src = n.node),
    a3r AS (SELECT e.dst, SUM(CAST(e.w AS HUGEINT) * h.h) AS raw
            FROM edges e JOIN h2 h ON h.node = e.src GROUP BY 1),
    a3 AS (SELECT n.node,
             CAST(COALESCE(r.raw, 0) * 1000000000 // (SELECT MAX(raw) FROM a3r) AS BIGINT) AS a
           FROM n0 n LEFT JOIN a3r r ON r.dst = n.node),
    h3r AS (SELECT e.src, SUM(CAST(e.w AS HUGEINT) * a.a) AS raw
            FROM edges e JOIN a3 a ON a.node = e.dst GROUP BY 1),
    h3 AS (SELECT n.node,
             CAST(COALESCE(r.raw, 0) * 1000000000 // (SELECT MAX(raw) FROM h3r) AS BIGINT) AS h
           FROM n0 n LEFT JOIN h3r r ON r.src = n.node)
    SELECT h3.node AS n_name, h3.h AS hub_ppb, a3.a AS auth_ppb
    FROM h3 JOIN a3 ON a3.node = h3.node
    ORDER BY n_name ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q207
  /** CUSUM change-point detection on the per-type daily event-count
    * series — the "when did this feed's behavior change" monitor next to
    * q122's distribution drift and q126's seasonal outliers: for every
    * event type, the day maximizing the absolute CUSUM statistic
    * |S_t| = |Σ_{i≤t}(x_i − x̄)| over the zero-filled daily series
    * (missing days count 0 — a feed going silent IS a change).
    *
    * Exact integers end-to-end: S_t·D = D·C_t − t·N (C_t the running
    * count sum, N the type total, D the day count), so the argmax
    * compares integers and the normalized statistic is the integral ppm
    * `|S|·10⁶ div (N·D)` — no float mean ever forms. Ties break toward
    * the earliest day (the change POINT) via the negated-epoch struct
    * field, q143's argmax idiom.
    *
    * Shape: one (type, day) count aggregate, the q90 explode(sequence)
    * zero-fill over the |types|×|days| dimension frame, cumsum windows
    * over ≤|days| rows per type, one argmax aggregate. The only
    * corpus-sized stage is the map-side-combinable daily count — the
    * q01 scan-aggregate class; the calendar span is a 1-row broadcast
    * (whitelisted tiny-stats pattern). */
  val q207 = QueryDef(
    "q207_cusum",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("event_type"), to_date(col("ts")).as("day"))
      val byDay = e.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      val span = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val frame = byDay.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY")))
            .as("day"))
      val filled = frame.join(byDay, Seq("event_type", "day"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
      val run = Window.partitionBy(col("event_type")).orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy(col("event_type"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cusum = filled
        .withColumn("cum", sum(col("n")).over(run))
        .withColumn("t", count(lit(1)).over(run))
        .withColumn("tot", sum(col("n")).over(all))
        .withColumn("d", count(lit(1)).over(all))
        .withColumn("s", col("d") * col("cum") - col("t") * col("tot"))
      cusum.groupBy(col("event_type"))
        .agg(max(struct(abs(col("s")).as("s_abs"),
          (-unix_date(col("day"))).as("nd"),
          col("day"), col("tot"), col("d"))).as("best"))
        .select(col("event_type"),
          col("best.day").as("change_day"),
          col("best.s_abs").as("s_abs"),
          col("best.tot").as("n_events"),
          col("best.d").as("n_days"))
        .withColumn("stat_ppm",
          expr("""CAST(s_abs AS DECIMAL(38,0)) * 1000000
            div (CAST(n_events AS DECIMAL(38,0)) * n_days)"""))
        .orderBy(col("event_type").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT event_type, CAST(ts AS DATE) AS day FROM events),
    byday AS (
      SELECT event_type, day, COUNT(*) AS n FROM e GROUP BY 1, 2),
    span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e),
    frame AS (
      SELECT t.event_type, CAST(d0 + CAST(i AS INTEGER) AS DATE) AS day
      FROM (SELECT DISTINCT event_type FROM byday) t
      CROSS JOIN span
      CROSS JOIN UNNEST(range(0, date_diff('day', d0, d1) + 1)) AS r(i)),
    filled AS (
      SELECT f.event_type, f.day, COALESCE(b.n, 0) AS n
      FROM frame f LEFT JOIN byday b
        ON b.event_type = f.event_type AND b.day = f.day),
    c AS (
      SELECT event_type, day,
        SUM(n) OVER (PARTITION BY event_type ORDER BY day
          ROWS UNBOUNDED PRECEDING) AS cum,
        COUNT(*) OVER (PARTITION BY event_type ORDER BY day
          ROWS UNBOUNDED PRECEDING) AS t,
        SUM(n) OVER (PARTITION BY event_type) AS tot,
        COUNT(*) OVER (PARTITION BY event_type) AS d
      FROM filled),
    s AS (
      SELECT event_type, day, d * cum - t * tot AS s, tot, d,
        row_number() OVER (PARTITION BY event_type
          ORDER BY abs(d * cum - t * tot) DESC, day ASC) AS rn
      FROM c)
    SELECT event_type, day AS change_day,
      CAST(abs(s) AS BIGINT) AS s_abs,
      CAST(tot AS BIGINT) AS n_events,
      CAST(d AS BIGINT) AS n_days,
      CAST(CAST(abs(s) AS HUGEINT) * 1000000
        // (CAST(tot AS HUGEINT) * d) AS BIGINT) AS stat_ppm
    FROM s WHERE rn = 1
    ORDER BY event_type ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q208
  /** Per-group Spearman rank correlation — the robust (monotone,
    * outlier-immune) sibling of q114's Pearson matrix: quantity vs
    * extended price per return flag, computed as Pearson over exact
    * integer MIDRANKS (the tie-correct definition).
    *
    * Midranks without a row sort: q156's trick — over the per-group
    * DISTINCT value frame, midrank2 = 2·(count below) + ties + 1 is
    * twice the average rank and stays integral; each row picks up its
    * midrank2 by a (group, value) equi-join. The Pearson then reduces to
    * six exact-DECIMAL sufficient statistics in ONE map-side-combinable
    * aggregate (the q109/q114 contract), and both engines evaluate the
    * IDENTICAL fixed-shape double expression over identical integers.
    *
    * Shape: two distinct-frame cumsum windows (bounded by value
    * cardinality per group), two equi-joins back, one hash aggregate.
    * At 100 TB: the joins shuffle on (group, value) — the q156 class —
    * and everything else is map-side-combinable. */
  val q208 = QueryDef(
    "q208_spearman",
    (spark, dir) => {
      val li = Tables(spark, dir).lineitem.select(
        col("l_returnflag").as("g"),
        round(col("l_quantity") * 100).cast(LongType).as("x"),
        round(col("l_extendedprice") * 100).cast(LongType).as("y"))
      def midranks(v: String, out: String): DataFrame = {
        val cnt = li.groupBy(col("g"), col(v)).agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("g")).orderBy(col(v).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cnt.withColumn("below", sum(col("c")).over(w) - col("c"))
          .select(col("g"), col(v),
            (col("below") * 2 + col("c") + 1).as(out))
      }
      val ranked = li
        .join(midranks("x", "rx"), Seq("g", "x"))
        .join(midranks("y", "ry"), Seq("g", "y"))
      val s = ranked.groupBy(col("g")).agg(
        count(lit(1)).as("n_pts"),
        count(lit(1)).cast(DoubleType).as("n"),
        sum(col("rx").cast(DecimalType(38, 0))).cast(DoubleType).as("sx"),
        sum(col("ry").cast(DecimalType(38, 0))).cast(DoubleType).as("sy"),
        sum(col("rx").cast(DecimalType(38, 0)) * col("rx"))
          .cast(DoubleType).as("sxx"),
        sum(col("ry").cast(DecimalType(38, 0)) * col("ry"))
          .cast(DoubleType).as("syy"),
        sum(col("rx").cast(DecimalType(38, 0)) * col("ry"))
          .cast(DoubleType).as("sxy"))
      s.select(col("g").as("l_returnflag"), col("n_pts"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("rho"))
        .orderBy(col("l_returnflag").asc_nulls_first)
    },
    Some("""WITH li AS (
      SELECT l_returnflag AS g,
        CAST(ROUND(l_quantity * 100) AS BIGINT) AS x,
        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem),
    mx AS (
      SELECT g, x,
        2 * (SUM(c) OVER (PARTITION BY g ORDER BY x
          ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS rx
      FROM (SELECT g, x, COUNT(*) AS c FROM li GROUP BY 1, 2)),
    my AS (
      SELECT g, y,
        2 * (SUM(c) OVER (PARTITION BY g ORDER BY y
          ROWS UNBOUNDED PRECEDING) - c) + c + 1 AS ry
      FROM (SELECT g, y, COUNT(*) AS c FROM li GROUP BY 1, 2)),
    r AS (
      SELECT li.g, mx.rx, my.ry
      FROM li
      JOIN mx ON mx.g = li.g AND mx.x = li.x
      JOIN my ON my.g = li.g AND my.y = li.y),
    s AS (
      SELECT g, COUNT(*) AS n_pts,
        CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(rx AS HUGEINT)) AS DOUBLE) AS sx,
        CAST(SUM(CAST(ry AS HUGEINT)) AS DOUBLE) AS sy,
        CAST(SUM(CAST(rx AS HUGEINT) * rx) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(ry AS HUGEINT) * ry) AS DOUBLE) AS syy,
        CAST(SUM(CAST(rx AS HUGEINT) * ry) AS DOUBLE) AS sxy
      FROM r GROUP BY g)
    SELECT g AS l_returnflag, n_pts,
      ROUND((n * sxy - sx * sy) /
        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS rho
    FROM s
    ORDER BY l_returnflag ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q215
  /** Benford first-digit screen — the forensic data-quality lens next to
    * q128's constraint report and q125's χ²: naturally-occurring
    * positive amounts follow P(first digit = d) = log₁₀(1 + 1/d)
    * (Benford's law); a feed that drifts hard from it has been
    * truncated, capped, synthesized or tampered with. Per event type:
    * the 9-digit observed-vs-expected table plus the total-variation
    * deviation in exact ppm.
    *
    * Determinism: the first digit is the first character of the
    * positive integer's decimal print (identical in both engines), the
    * Benford expectations are the standard 6-dp ppm constants (they sum
    * to exactly 10⁶), obs/TVD ppm are DECIMAL-routed integral divides —
    * no log evaluated anywhere at query time (rule 13: the constants
    * are literals, not computed transcendentals).
    *
    * Shape: one map pass into a (type, digit) count, then
    * dimension-sized frames (9 digits × |types|) with the 9-row Benford
    * dim and |types|-row totals broadcast. The q01 scan-aggregate class
    * at 100 TB. */
  private[graft] val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  val q215 = QueryDef(
    "q215_benford",
    (spark, dir) => {
      import spark.implicits._
      val bf = broadcast(BenfordPpm.toDF("digit", "benford_ppm"))
      val e = Tables(spark, dir).events
        .select(col("event_type"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .filter(col("cents") > 0)
        .withColumn("digit",
          substring(col("cents").cast("string"), 1, 1).cast(IntegerType))
      val obs = e.groupBy(col("event_type"), col("digit"))
        .agg(count(lit(1)).as("n_obs"))
      val totals = obs.groupBy(col("event_type")).agg(sum(col("n_obs")).as("n"))
      val grid = obs.select(col("event_type")).distinct()
        .crossJoin(bf)
        .join(obs, Seq("event_type", "digit"), "left")
        .withColumn("n_obs", coalesce(col("n_obs"), lit(0L)))
        .join(broadcast(totals), "event_type")
      val tvd = grid.groupBy(col("event_type"))
        .agg(expr("""CAST(SUM(abs(CAST(n_obs AS DECIMAL(28,0)) * 1000000
          - CAST(n AS DECIMAL(28,0)) * benford_ppm)) div (2 * MAX(n)) AS BIGINT)""")
          .as("tvd_ppm"))
      grid.join(broadcast(tvd), "event_type")
        .select(col("event_type"), col("digit"), col("n_obs"),
          expr("CAST(n_obs AS DECIMAL(28,0)) * 1000000 div n").as("obs_ppm"),
          col("benford_ppm"), col("tvd_ppm"))
        .orderBy(col("event_type").asc_nulls_first, col("digit").asc_nulls_first)
    },
    Some("""WITH bf AS (
      SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        (9, 45757)) AS bf(digit, benford_ppm)),
    e AS (
      SELECT event_type,
        CAST(substr(CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM events
      WHERE CAST(ROUND(value * 100) AS BIGINT) > 0),
    obs AS (
      SELECT event_type, digit, COUNT(*) AS n_obs FROM e GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(SUM(n_obs) AS BIGINT) AS n FROM obs GROUP BY 1),
    grid AS (
      SELECT t.event_type, bf.digit, bf.benford_ppm,
        COALESCE(o.n_obs, 0) AS n_obs, tot.n
      FROM (SELECT DISTINCT event_type FROM obs) t
      CROSS JOIN bf
      LEFT JOIN obs o ON o.event_type = t.event_type AND o.digit = bf.digit
      JOIN tot ON tot.event_type = t.event_type),
    tvd AS (
      SELECT event_type,
        CAST(SUM(abs(CAST(n_obs AS HUGEINT) * 1000000
          - CAST(n AS HUGEINT) * benford_ppm)) // (2 * MAX(n)) AS BIGINT) AS tvd_ppm
      FROM grid GROUP BY 1)
    SELECT g.event_type, CAST(g.digit AS INTEGER) AS digit,
      CAST(g.n_obs AS BIGINT) AS n_obs,
      CAST(CAST(g.n_obs AS HUGEINT) * 1000000 // g.n AS BIGINT) AS obs_ppm,
      CAST(g.benford_ppm AS BIGINT) AS benford_ppm,
      t.tvd_ppm
    FROM grid g JOIN tvd t ON t.event_type = g.event_type
    ORDER BY g.event_type ASC NULLS FIRST, g.digit ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q216
  /** Label-propagation community detection (Raghavan et al. '07, the
    * deterministic synchronous variant) — the COMMUNITY row completing
    * the graph family (components q55, centrality q127/q206, closure
    * q157/q168, cores q163, reachability q202): every node starts as
    * its own label; each round it adopts the most frequent label among
    * its neighbors, ties to the SMALLEST label (determinism — the
    * random tie-break of the paper is exactly what a cross-engine
    * oracle can't have). Fixed [[LpaRounds]] synchronous rounds (LPA's
    * documented convergence is "a few iterations"; a fixed count also
    * sidesteps the oscillation synchronous LPA can exhibit).
    *
    * Scale: each round is ONE adjacency equi-join + two
    * map-side-combinable aggregates (neighbor-label counts, then the
    * per-node argmax struct) — the Pregel shape, per-round cut so plans
    * don't stack. Reads the memoized co-purchase edge view. */
  private[graft] val LpaRounds = 3

  /** Neighbor cap per packed-adjacency ROW: [[lpaAdjacency]] salts a
    * node's neighbor list into ceil(deg/cap) chunks of at most this many
    * entries, so no adjacency row is ever degree-sized — a
    * boilerplate-grade hub at 100 TB packs into bounded rows instead of
    * one unbounded `collect_list` cell (round-17 verdict item 4). 4096
    * longs ≈ 32 KiB per row. */
  private[graft] val LpaAdjChunkNbrs = 4096

  /** Degree-capped packed adjacency of the undirected graph, keyed by
    * the message-RECEIVING node: rows `(b, nbrs)` where the union of
    * `nbrs` over b's ≤ ceil(deg/chunkNbrs) chunk rows is exactly N(b).
    * Chunking is the deterministic row_number salt (exact ≤ chunkNbrs
    * bound, spec-asserted); the per-round (b, lbl) count aggregate is
    * chunk-associative, so rounds are semantically unchanged.
    *
    * Receiver keying is the round-18 combiner fix: the round pipeline
    * explodes (b, a) BEFORE the label join, so the partial (b, lbl)
    * count aggregate sees each b's whole message stream inside the
    * partition(s) holding its adjacency rows — the exchange then moves
    * ~distinct (b, lbl) rows, not the 2|E| message stream (measured
    * sf0.1 round trace before: 2.31–2.39 M rows/round written with the
    * sender-keyed layout — scattered receivers defeated the combiner). */
  private[graft] def lpaAdjacency(edges: DataFrame, chunkNbrs: Int): DataFrame = {
    val und = edges.select(col("u").as("b"), col("v").as("a"))
      .unionByName(edges.select(col("v").as("b"), col("u").as("a")))
    val rn = row_number().over(
      Window.partitionBy(col("b")).orderBy(col("a").asc))
    und.withColumn("rn", rn)
      .groupBy(col("b"), expr(s"(rn - 1) div $chunkNbrs").as("chunk"))
      .agg(collect_list(col("a")).as("nbrs"))
      .select(col("b"), col("nbrs"))
  }

  private[graft] def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    labelPropagation(edges, rounds, LpaAdjChunkNbrs)

  private[graft] def labelPropagation(edges: DataFrame, rounds: Int,
      chunkNbrs: Int): DataFrame = {
    // Round-17 reshape, re-keyed in round 18: the per-round message join
    // runs over the degree-capped packed adjacency ([[lpaAdjacency]] —
    // receiver-keyed, ≤ chunkNbrs neighbors per row) instead of the
    // 2|E|-row undirected edge stream the pre-17 shape re-shuffled into
    // every round. Round r: explode the adjacency to (b, a), broadcast-
    // join the (≤|V|-row, gate below) label frame on a — map-only over
    // the adjacency checkpoint — and count (b, lbl) with the partial
    // aggregate in the SAME stage. Receiver keying means the partial
    // aggregate compresses to ~distinct (b, lbl) before the exchange
    // (label convergence shrinks it round over round); the sender-keyed
    // round-17 layout scattered each receiver across partitions and
    // measured 2.31–2.39 M exchanged rows per round at sf0.1 — the
    // combiner could not compress at all.
    val adj = Materialize.cut(lpaAdjacency(edges, chunkNbrs))
    // adjacency row count (≥ |V|, = |V| + Σ extra hub chunks) is a
    // driver scalar anyway (the cut is eager); it conservatively gates
    // the per-round label broadcast ([[VertexBroadcastMaxRows]])
    val nAdjRows = adj.count()
    def side(df: DataFrame) =
      if (nAdjRows <= VertexBroadcastMaxRows) broadcast(df) else df
    // Round 1 degenerates to "adopt the minimum neighbor id": initial
    // labels are the node ids themselves, so every message carries a
    // distinct label (cnt = 1 for all) and the (cnt desc, lbl asc)
    // argmax reduces to min(N(b)) — computed straight off the adjacency
    // with a |V|-row partial-agg exchange, no join, no (b, lbl) pair
    // stream. This removes the one round whose pair stream the
    // convergence-driven combiner can NEVER compress (every pair is
    // unique in round 1); equality with the general round is covered by
    // the q216 in-memory-replay spec and the DuckDB oracle.
    var labels: DataFrame =
      if (rounds >= 1)
        adj.groupBy(col("b").as("node"))
          .agg(min(array_min(col("nbrs"))).as("lbl"))
      else
        adj.select(col("b").as("node")).distinct()
          .withColumn("lbl", col("node"))
    for (r <- 2 to rounds) {
      val nb = adj.select(col("b"), explode(col("nbrs")).as("a"))
        .join(side(labels), col("a") === col("node"))
        .groupBy(col("b"), col("lbl")).agg(count(lit(1)).as("cnt"))
      labels = nb.groupBy(col("b"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"), col("lbl")))
          .as("best"))
        .select(col("b").as("node"), col("best.lbl").as("lbl"))
    }
    // rounds are FIXED (no per-round convergence action), and each
    // round's labels feed exactly one consumer (the next round) — a
    // linear chain one job can execute, so only the FINAL label frame
    // is cut (it feeds the size aggregate AND the output join, and
    // the cut keeps the total sort's range sampling from re-running
    // the rounds). Per-round cuts cost an eager job each and bought
    // nothing at depth 3 (round 17; the q55/q70 loop keeps its
    // per-round cuts because its convergence CHECK is a per-round
    // action).
    if (rounds >= 1) labels = Materialize.cut(labels)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    // no broadcast hint: |sizes| = |distinct labels| is only
    // clustering-bounded — in the LPA worst case (no convergence) it
    // approaches |V|, so forcing the build side would bypass AQE's size
    // threshold and risk a corpus-sized driver broadcast at scale; let
    // AQE pick broadcast only when the measured size clears the bar
    labels.join(sizes, "lbl")
      .select(col("node"), col("lbl").as("community"), col("community_size"))
      .orderBy(col("node").asc_nulls_first)
  }

  val q216 = QueryDef(
    "q216_label_prop",
    (spark, dir) => labelPropagation(coPurchaseEdges(spark, dir), LpaRounds),
    Some("""WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey),
    und AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
    l0 AS (SELECT DISTINCT b AS node, b AS lbl FROM und),
    c1 AS (SELECT und.b, l.lbl, COUNT(*) AS cnt
           FROM und JOIN l0 l ON l.node = und.a GROUP BY 1, 2),
    r1 AS (SELECT b AS node, lbl FROM (
             SELECT b, lbl, row_number() OVER (PARTITION BY b
               ORDER BY cnt DESC, lbl ASC) AS rn FROM c1) WHERE rn = 1),
    c2 AS (SELECT und.b, l.lbl, COUNT(*) AS cnt
           FROM und JOIN r1 l ON l.node = und.a GROUP BY 1, 2),
    r2 AS (SELECT b AS node, lbl FROM (
             SELECT b, lbl, row_number() OVER (PARTITION BY b
               ORDER BY cnt DESC, lbl ASC) AS rn FROM c2) WHERE rn = 1),
    c3 AS (SELECT und.b, l.lbl, COUNT(*) AS cnt
           FROM und JOIN r2 l ON l.node = und.a GROUP BY 1, 2),
    r3 AS (SELECT b AS node, lbl FROM (
             SELECT b, lbl, row_number() OVER (PARTITION BY b
               ORDER BY cnt DESC, lbl ASC) AS rn FROM c3) WHERE rn = 1),
    sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
              FROM r3 GROUP BY 1)
    SELECT r3.node, r3.lbl AS community, s.community_size
    FROM r3 JOIN sizes s ON s.lbl = r3.lbl
    ORDER BY r3.node ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q219
  /** Sketch-driven winsorization — q176's robust clip report with the
    * exact percentile replaced by q193's deterministic log-binned
    * sketch: the p01/p99 clip bounds are BIN BOUNDARIES (within ≤ 6.25%
    * relative of the true percentile by the bin-width guarantee), so
    * the bounds come from ≤ 16·64-row pages instead of a per-group sort
    * — at 100 TB this is the form that runs, with q176 as its exact
    * fixture-scale twin and q213's stored pages making the bounds
    * incrementally maintainable.
    *
    * Exactness: every VALUE in the output is exact integer arithmetic —
    * the bounds are integer bin edges (the shared q193 bin geometry),
    * the clip counts are exact counts against those integer bounds, and
    * the ppm is a DECIMAL-routed integral divide. The approximation
    * lives ONLY in where the bound sits inside its bin — visible by
    * comparing against q176, never in cross-engine agreement.
    *
    * Shape: one bin-count pass (map-side combinable, the q193 class) to
    * |types|×bins rows, the cumulative pick on that dimension frame,
    * bounds broadcast back for one counting re-scan — two corpus passes
    * total, q176's shape with the sort removed. */
  val q219 = QueryDef(
    "q219_sketch_winsorize",
    (spark, dir) => {
      val cents = Tables(spark, dir).events
        .select(col("event_type").as("g"),
          greatest(lit(0L), round(col("value") * 100).cast(LongType)).as("v"))
      val counts = quantileBinsBy(cents, Seq("g"))
      val run = Window.partitionBy(col("g")).orderBy(col("id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = counts.withColumn("cum", sum(col("c")).over(run))
      val totals = counts.groupBy(col("g")).agg(sum(col("c")).as("n"))
      val picked = cum.join(broadcast(totals), "g")
        .groupBy(col("g"))
        .agg(max(col("n")).as("n_events"),
          min(when(col("cum") >= expr("(n * 1 + 99) div 100"), col("id")))
            .as("id01"),
          min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("id")))
            .as("id99"))
        .select(col("g"), col("n_events"),
          expr(quantBinLoSql("id01")).as("lo"),
          expr(quantBinHiSql("id99")).as("hi"))
      cents.join(broadcast(picked), "g")
        .groupBy(col("g"))
        .agg(max(col("n_events")).as("n_events"),
          max(col("lo")).as("lo_cents"),
          max(col("hi")).as("hi_cents"),
          sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
          sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clipped_high"))
        .withColumn("clipped_ppm",
          expr("""CAST((n_clipped_low + n_clipped_high) AS DECIMAL(28,0))
            * 1000000 div n_events"""))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type").asc_nulls_first)
    },
    Some("""WITH cents AS (
      SELECT event_type AS g, GREATEST(0, CAST(ROUND(value * 100) AS BIGINT)) AS v
      FROM events),
    binned AS (
      SELECT g,
        CASE WHEN v < 16 THEN v
          ELSE (length(bin(v)) - 1) * 16
            + ((v >> CAST(length(bin(v)) - 5 AS INTEGER)) - 16)
        END AS id
      FROM cents),
    counts AS (SELECT g, id, COUNT(*) AS c FROM binned GROUP BY 1, 2),
    cum AS (
      SELECT g, id, c,
        SUM(c) OVER (PARTITION BY g ORDER BY id ASC
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts),
    totals AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
    picked0 AS (
      SELECT cum.g, MAX(n) AS n_events,
        MIN(CASE WHEN cum >= (n * 1 + 99) // 100 THEN id END) AS id01,
        MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN id END) AS id99
      FROM cum JOIN totals USING (g)
      GROUP BY 1),
    picked AS (
      SELECT g, n_events,
        CASE WHEN id01 < 64 THEN id01 ELSE (CAST(16 + id01 % 16 AS BIGINT) << CAST(id01 // 16 - 4 AS INTEGER)) END AS lo,
        CASE WHEN id99 < 64 THEN id99 + 1 ELSE ((CAST(16 + id99 % 16 AS BIGINT) << CAST(id99 // 16 - 4 AS INTEGER))) + (CAST(1 AS BIGINT) << CAST(id99 // 16 - 4 AS INTEGER)) END AS hi
      FROM picked0)
    SELECT c.g AS event_type,
      MAX(p.n_events) AS n_events,
      CAST(MAX(p.lo) AS BIGINT) AS lo_cents,
      CAST(MAX(p.hi) AS BIGINT) AS hi_cents,
      CAST(SUM(CASE WHEN c.v < p.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
      CAST(SUM(CASE WHEN c.v > p.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
      CAST((SUM(CASE WHEN c.v < p.lo THEN 1 ELSE 0 END)
        + SUM(CASE WHEN c.v > p.hi THEN 1 ELSE 0 END)) * 1000000
        // MAX(p.n_events) AS BIGINT) AS clipped_ppm
    FROM cents c JOIN picked p ON p.g = c.g
    GROUP BY c.g
    ORDER BY event_type ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q223
  /** Two-sample Kolmogorov–Smirnov drift: per event type, the KS
    * statistic `D = max_v |F_type(v) − F_corpus(v)|` of the value
    * distribution against the whole corpus, in EXACT integer ppm — the
    * third member of the distribution-drift family (q122 value-PSI,
    * q212 bigram-TVD): PSI needs bins chosen up front, TVD compares
    * categorical mass, KS is the binless lens on a numeric column — one
    * number, sensitive anywhere along the CDF, the classic "did this
    * feed's distribution move" screen.
    *
    * Exactness: both CDFs are step functions jumping only at observed
    * cent values, so the max over ALL v is the max over the corpus's
    * distinct cents; at each the comparison is the pure integer
    * `|cum_g·N − cum_all·n_g|` (cross-multiplied — no per-point
    * division), widened through DECIMAL(38,0) (rule 11: at 10¹² events
    * cum·N reaches ~10²⁴), and only the final ppm is one integral
    * divide. Ties on D break to the SMALLEST cent value (min-struct).
    *
    * Shape: one map-side-combinable (type, cent) count aggregate (cut —
    * feeds the grid, the type totals and the value frame), a
    * types × distinct-cents grid (≤ |types|·|cent domain| — the 2-dp
    * money domain is bounded; an unbounded-domain feed would bin
    * through q193's log pages first and pay ≤ 6.25% bin width), per-TYPE
    * cumsum windows (never a global window: the corpus CDF is recovered
    * as Σ_g cum_g per value — one grid re-aggregate — instead of a
    * single-partition cumsum over the value frame), then a per-type
    * max-struct. */
  /** The KS finishing stage over a (g, v, c) cent-count frame — shared
    * by q223 (counts from the live feed) and q226 (counts maintained
    * from stored per-day pages), the q201/q213 one-definition
    * convention: grid → per-type cumsums → cross-multiplied integer
    * max → ppm. Cuts the input (it feeds the grid, both dimension
    * frames, the totals and the grand total). */
  private[graft] def ksFinish(cents0: DataFrame): DataFrame = {
      val cents = Materialize.cut(cents0)
      val types = cents.select(col("g")).distinct()
      val vals = cents.select(col("v")).distinct()
      val grid = types.crossJoin(vals)
        .join(cents, Seq("g", "v"), "left")
        .select(col("g"), col("v"), coalesce(col("c"), lit(0L)).as("c"))
      val wg = Window.partitionBy(col("g")).orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = Materialize.cut(
        grid.withColumn("cum", sum(col("c")).over(wg)))
      val cumAll = cum.groupBy(col("v")).agg(sum(col("cum")).as("cum_all"))
      val totals = cents.groupBy(col("g")).agg(sum(col("c")).as("n_g"))
      val nAll = cents.agg(sum(col("c")).as("n_all"))
      cum.join(cumAll, "v").join(totals, "g")
        .crossJoin(broadcast(nAll))
        .withColumn("diff",
          abs(col("cum").cast(DecimalType(38, 0)) * col("n_all")
            - col("cum_all").cast(DecimalType(38, 0)) * col("n_g")))
        .groupBy(col("g"))
        .agg(max(col("n_g")).as("n_events"),
          max(struct(col("diff"), (-col("v")).as("nv"))).as("best"),
          max(col("n_all")).as("na"))
        .select(col("g").as("event_type"), col("n_events"),
          expr("""CAST(best.diff * 1000000
            div (CAST(n_events AS DECIMAL(38,0)) * na) AS BIGINT)""")
            .as("d_ppm"),
          (-col("best.nv")).as("d_at_cents"))
        .orderBy(col("event_type").asc_nulls_first)
  }

  val q223 = QueryDef(
    "q223_ks_drift",
    (spark, dir) => ksFinish(
      Tables(spark, dir).events
        .select(col("event_type").as("g"),
          round(col("value") * 100).cast(LongType).as("v"))
        .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))),
    Some("""WITH cents AS (
      SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v,
        COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    grid AS (
      SELECT t.g, x.v, COALESCE(c.c, 0) AS c
      FROM (SELECT DISTINCT g FROM cents) t
      CROSS JOIN (SELECT DISTINCT v FROM cents) x
      LEFT JOIN cents c ON c.g = t.g AND c.v = x.v),
    cum AS (
      SELECT g, v, SUM(c) OVER (PARTITION BY g ORDER BY v ASC
        ROWS UNBOUNDED PRECEDING) AS cum
      FROM grid),
    cum_all AS (SELECT v, SUM(cum) AS cum_all FROM cum GROUP BY 1),
    totals AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM cents GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM cents),
    diffs AS (
      SELECT cum.g, cum.v,
        ABS(CAST(cum.cum AS HUGEINT) * n.n_all
          - CAST(a.cum_all AS HUGEINT) * t.n_g) AS diff,
        t.n_g, n.n_all
      FROM cum JOIN cum_all a USING (v) JOIN totals t USING (g) CROSS JOIN n),
    best AS (
      SELECT g, MAX(n_g) AS n_events,
        MAX({'diff': diff, 'nv': -v}) AS best,
        MAX(n_all) AS na
      FROM diffs GROUP BY 1)
    SELECT g AS event_type, n_events,
      CAST(best.diff * 1000000 // (CAST(n_events AS HUGEINT) * na) AS BIGINT) AS d_ppm,
      -best.nv AS d_at_cents
    FROM best
    ORDER BY event_type ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q233
  /** CUPED variance-reduced experiment readout (Deng et al., WSDM '13) —
    * the adjustment every mature experimentation pipeline applies on top
    * of q121's raw z-test: each user's POST-period spend is corrected by
    * their PRE-period spend, `y'ᵤ = yᵤ − θ·(xᵤ − x̄)` with
    * `θ = cov(x,y)/var(x)` estimated on the POOLED population, removing
    * the between-user variance the randomization already balanced.
    * Per-variant adjusted means move toward the true treatment effect
    * while raw means carry heavy-spender noise.
    *
    * Determinism (the q121 convention): every INPUT to the statistic is
    * an exact integer/decimal — per-user pre/post cents, pooled
    * n/Σx/Σy/Σxy/Σx² as DECIMAL(38,0) sums (map-side combinable), the
    * covariance/variance numerators A = n·Σxy − Σx·Σy and
    * B = n·Σx² − (Σx)² exact — and θ plus the adjusted means are ONE
    * fixed-shape double expression over those exact scalars, identical
    * in both engines; B = 0 (constant pre-period) guards to NULL. The
    * pre/post boundary is day 15 of the observed window (min-day
    * anchor, 1-row broadcast — q166's scalar pattern).
    *
    * Shape: one user-keyed conditional aggregate (high cardinality,
    * distributes), a 1-row pooled frame and a 2-row variant frame
    * joined by tiny broadcasts — output is |variants| rows; nothing
    * corpus-sized moves after the first aggregate. */
  val q233 = QueryDef(
    "q233_cuped",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      val dayCol = expr("unix_micros(ts) DIV 86400000000")
      val cents = round(col("value") * 100, 0).cast(LongType)
      val anchor = e.agg(min(dayCol).as("day0"))
      val perUser = e.crossJoin(broadcast(anchor))
        .select(col("user_id"),
          when(dayCol < col("day0") + 15, cents).otherwise(lit(0L)).as("xc"),
          when(dayCol >= col("day0") + 15, cents).otherwise(lit(0L)).as("yc"))
        .groupBy(col("user_id"))
        .agg(sum(col("xc")).as("x"), sum(col("yc")).as("y"))
        .withColumn("variant", pmod(Det.md5Bucket(col("user_id")), lit(2)))
      val dec = DecimalType(38, 0)
      val pooled = perUser.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        // cast BEFORE the multiply (the oracle's HUGEINT order): per-user
        // cents² passes int64 around 3e9-cent users — decimal first
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
      // Det convention (round-16 ADVICE): sum cents through DECIMAL(38,0)
      // — a raw LongType sum wraps int64 silently at scale while the
      // oracle's HUGEINT sum + BIGINT cast errors; the explicit decimal
      // sum + overflow-checked narrowing keeps both engines aligned
      // (output columns stay BIGINT).
      val byVar = perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("x").cast(dec)).cast(LongType).as("sum_pre_cents"),
          sum(col("y").cast(dec)).cast(LongType).as("sum_post_cents"))
      val a = (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
      val b = (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
      val theta = when(b > 0.0, a / b)
      val meanPost = col("sum_post_cents").cast(DoubleType) / col("n_users")
      val adj = meanPost - theta *
        (col("sum_pre_cents").cast(DoubleType) / col("n_users") -
          col("sx").cast(DoubleType) / col("n"))
      byVar.crossJoin(broadcast(pooled))
        .select(col("variant"), col("n_users"),
          col("sum_pre_cents"), col("sum_post_cents"),
          round(theta, 6).as("theta"),
          round(meanPost, 6).as("mean_post_cents"),
          round(adj, 6).as("adj_mean_post_cents"))
        .orderBy(col("variant").asc_nulls_first)
    },
    Some("""WITH d AS (
      SELECT user_id,
        epoch_ns(ts) // 86400000000000 AS day,
        CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events),
    a AS (SELECT MIN(day) AS day0 FROM d),
    per_user AS (
      SELECT user_id,
        CAST(SUM(CASE WHEN day < day0 + 15 THEN cents ELSE 0 END) AS BIGINT) AS x,
        CAST(SUM(CASE WHEN day >= day0 + 15 THEN cents ELSE 0 END) AS BIGINT) AS y,
        CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS INTEGER) % 2
          AS variant
      FROM d, a GROUP BY user_id, a.day0),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
        CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
        CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM per_user),
    by_var AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(x) AS BIGINT) AS sum_pre_cents,
        CAST(SUM(y) AS BIGINT) AS sum_post_cents
      FROM per_user GROUP BY variant),
    stat AS (
      SELECT v.variant, v.n_users, v.sum_pre_cents, v.sum_post_cents,
        CASE WHEN CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE) > 0.0
             THEN CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                  / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE) END AS theta,
        CAST(v.sum_post_cents AS DOUBLE) / v.n_users AS mean_post,
        CAST(v.sum_pre_cents AS DOUBLE) / v.n_users
          - CAST(p.sx AS DOUBLE) / p.n AS pre_dev
      FROM by_var v CROSS JOIN pooled p)
    SELECT variant, n_users, sum_pre_cents, sum_post_cents,
      round(theta, 6) AS theta,
      round(mean_post, 6) AS mean_post_cents,
      round(mean_post - theta * pre_dev, 6) AS adj_mean_post_cents
    FROM stat
    ORDER BY variant ASC NULLS FIRST"""))

  override def queries: Seq[QueryDef] =
    Seq(q108, q109, q110, q111, q112, q113, q114, q115, q120, q121, q122,
      q123, q124, q125, q126, q127, q128, q131, q134, q135, q138, q141, q142,
      q143, q145, q150, q156, q157, q159, q163, q166, q168, q176, q178, q184,
      q190, q191, q193, q197, q198, q199, q202, q203, q206, q207, q208,
      q215, q216, q219, q223, q233)
}
