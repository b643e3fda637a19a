package graft.operators

import graft.{Det, QueryDef, QueryPack, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}

/** Window-function and time-series pack: ranking, analytic lag/lead,
  * running and frame aggregates, ntile, tumbling time buckets,
  * sessionization (gaps-and-islands) and the as-of join.
  *
  * These model the reference's *time* semantics — daily cadence
  * (`hello_function_dag.py:16`), poll intervals and bounded waits
  * (`update_tr_from_ex_dag.py:127-128`) — as declarative event-time
  * operators over the `events` table; the streaming forms live in
  * `graft.streaming` and share the same batch-checkable shapes.
  *
  * Scale notes: every window here is partitioned by a high-cardinality key
  * (customer, user) so state is distributed; q23's global quartiles go
  * through [[GlobalRank]] (range-partitioned two-pass rank + broadcast
  * prefix-sum offsets) — never a single-partition global window, which
  * funnels the corpus through one task (PlanSpec guards the whole
  * workload against that shape).
  */
object WindowOps extends QueryPack {
  import Det._

  // ---------------------------------------------------------------- q20
  /** Per-group top-k: 3 biggest orders per customer via row_number. */
  val q20 = QueryDef(
    "q20_topk_per_group",
    (spark, dir) => {
      val o = Tables(spark, dir).orders
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w).cast(IntegerType))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(row_number() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_custkey, rn"""))

  // ---------------------------------------------------------------- q21
  /** Running (cumulative) spend per customer — decimal-deterministic. */
  val q21 = QueryDef(
    "q21_running_sum",
    (spark, dir) => {
      val o = Tables(spark, dir).orders
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          sum(col("o_totalprice").cast(DecimalType(18, 6))).over(w)
            .cast(DoubleType).as("cum_spend"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
    FROM orders
    ORDER BY o_custkey, o_orderkey"""))

  // ---------------------------------------------------------------- q22
  /** Analytic lag/lead: inter-order gap and next order value. */
  val q22 = QueryDef(
    "q22_lag_lead",
    (spark, dir) => {
      val o = Tables(spark, dir).orders
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(
          col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            lag(col("o_orderdate"), 1).over(w).cast("date")).as("days_since_prev"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_price"),
          last(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("latest_price"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey,
      CAST(date_diff('day',
        CAST(lag(o_orderdate, 1) OVER w AS DATE),
        CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev,
      lead(o_totalprice, 1) OVER w AS next_price,
      first_value(o_totalprice) OVER
        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
      last_value(o_totalprice) OVER
        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_orderkey"""))

  // ---------------------------------------------------------------- q23
  /** ntile quartiles of customers by balance + per-quartile profile.
    * The quartile assignment is [[GlobalRank.withRowNumber]] (distributed
    * two-pass rank) + [[GlobalRank.ntileFromRank]] (exact integer ntile
    * from rank and total) — semantically identical to
    * `ntile(4) OVER (ORDER BY …)` (the oracle's form, and spec-asserted
    * against Spark's own ntile) but without the single-task global
    * window that form plans. */
  val q23 = QueryDef(
    "q23_ntile",
    (spark, dir) => {
      val c = Tables(spark, dir).customer
      val (ranked, n) = GlobalRank.withRowNumber(
        c.select(col("c_custkey"), col("c_acctbal")),
        Seq(col("c_acctbal").desc, col("c_custkey")), "rk")
      ranked.select(col("c_acctbal"),
          GlobalRank.ntileFromRank(col("rk"), n, 4).cast(IntegerType).as("quartile"))
        .groupBy(col("quartile"))
        .agg(
          count(lit(1)).as("n"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"))
        .orderBy(col("quartile"))
    },
    Some("""SELECT quartile, COUNT(*) AS n,
      MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
    FROM (SELECT c_custkey, c_acctbal,
      CAST(ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INT) AS quartile
      FROM customer)
    GROUP BY quartile
    ORDER BY quartile"""))

  // ---------------------------------------------------------------- q83
  /** The full GLOBAL ranking family — row_number, rank, dense_rank,
    * percent_rank, cume_dist over a corpus-wide order with real ties
    * (hundred-unit balance buckets) — via
    * [[GlobalRank.withRankFamily]]: the range-partitioned two-pass rank
    * plus one tie-group aggregate and a group-sized dense numbering,
    * never a single-partition window (the oracle's
    * `ORDER BY … ` window form is exactly what a 100 TB corpus cannot
    * plan; PlanSpec's workload guard enforces the ban engine-side).
    * Ratio columns are exact integer ratios in double, so the DuckDB
    * window functions reproduce them bit-for-bit. */
  val q83 = QueryDef(
    "q83_global_rank_family",
    (spark, dir) => {
      val c = Tables(spark, dir).customer
        .select(col("c_custkey"),
          floor(col("c_acctbal").cast(DoubleType) / 100).cast(LongType).as("bal_bucket"))
      val (fam, _) = GlobalRank.withRankFamily(c,
        sortCols = Seq(col("bal_bucket").desc),
        keyCols = Seq(col("bal_bucket")),
        tieCols = Seq(col("c_custkey")))
      fam.select(col("c_custkey"), col("bal_bucket"),
          col("row_number").as("rn"), col("rank").as("rk"),
          col("dense_rank").as("drk"), col("percent_rank").as("prk"),
          col("cume_dist").as("cd"))
        .orderBy(col("rn"))
    },
    Some("""SELECT c_custkey,
      CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 100) AS BIGINT) AS bal_bucket,
      CAST(row_number() OVER wt AS BIGINT) AS rn,
      CAST(rank() OVER wb AS BIGINT) AS rk,
      CAST(dense_rank() OVER wb AS BIGINT) AS drk,
      percent_rank() OVER wb AS prk,
      cume_dist() OVER wb AS cd
    FROM customer
    WINDOW
      wt AS (ORDER BY FLOOR(CAST(c_acctbal AS DOUBLE) / 100) DESC NULLS LAST,
        c_custkey ASC NULLS FIRST),
      wb AS (ORDER BY FLOOR(CAST(c_acctbal AS DOUBLE) / 100) DESC NULLS LAST)
    ORDER BY rn ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q24
  /** Moving average over a bounded row frame (last 3 events per user). */
  val q24 = QueryDef(
    "q24_moving_avg",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      e.select(
          col("event_id"), col("user_id"), col("value"),
          (sum(col("value").cast(DecimalType(18, 6))).over(w).cast(DoubleType) /
            count(lit(1)).over(w)).as("mavg3"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT event_id, user_id, value,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        / COUNT(*) OVER w AS mavg3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY event_id"""))

  // ---------------------------------------------------------------- q25
  /** Tumbling hourly buckets over events — the batch-checkable equivalent
    * of the streaming tumbling-window aggregate (graft.streaming). */
  val q25 = QueryDef(
    "q25_tumbling_hour",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      e.groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("hour"), col("event_type"))
    },
    Some(s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour, event_type,
      COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour, event_type"""))

  // ---------------------------------------------------------------- q26
  /** Sessionization via gaps-and-islands: a new session starts after a
    * >30 min silence; sessions then profiled per user. The streaming twin
    * is `session_window` (graft.streaming). */
  val q26 = QueryDef(
    "q26_sessionize",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(wRun).cast(LongType))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
            .cast(LongType).as("duration_sec"))
        .orderBy(col("user_id"), col("session_id"))
    },
    Some("""WITH x AS (
      SELECT user_id, event_id, ts,
        CASE WHEN lag(ts, 1) OVER w IS NULL
               OR date_diff('second', lag(ts, 1) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_id, ts,
        CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM x)
    SELECT user_id, session_id, COUNT(*) AS n_events,
      date_diff('second', MIN(ts), MAX(ts)) AS duration_sec
    FROM s
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id"""))

  // ---------------------------------------------------------------- q27
  /** As-of join ([[AsOf.backward]]): each error event matched to the same
    * user's latest purchase at-or-before it. */
  val q27 = QueryDef(
    "q27_asof_join",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      val errors = e.filter(col("event_type") === "error")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_event_id"),
          col("ts").as("purchase_ts"))
      AsOf.backward(
          errors, purchases,
          keyL = "user_id", keyR = "user_id",
          timeL = "ts", timeR = "ts",
          payload = Seq("purchase_event_id", "purchase_ts"),
          tieR = "purchase_event_id")
        .filter(col("purchase_event_id").isNotNull)
        .select(
          col("event_id"), col("user_id"), col("purchase_event_id"),
          (unix_timestamp(col("ts")) - unix_timestamp(col("purchase_ts")))
            .cast(LongType).as("gap_sec"))
        .orderBy(col("event_id"))
    },
    Some("""WITH e AS (SELECT * FROM events WHERE event_type = 'error'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT e.event_id, e.user_id, p.event_id AS purchase_event_id,
        date_diff('second', p.ts, e.ts) AS gap_sec,
        row_number() OVER (PARTITION BY e.event_id
          ORDER BY p.ts DESC, p.event_id DESC) AS rn
      FROM e JOIN p ON e.user_id = p.user_id AND p.ts <= e.ts)
    SELECT event_id, user_id, purchase_event_id, gap_sec
    FROM j WHERE rn = 1
    ORDER BY event_id"""))

  // ---------------------------------------------------------------- q58
  /** Sliding windows (1 h size, 30 min slide) as a batch query — the
    * batch-checkable twin of the streaming sliding-window aggregate
    * (graft.streaming), completing the tumbling(q25)/session(q26)/sliding
    * triple. Spark's `window()` assigns each event to its size/slide = 2
    * overlapping windows; the oracle replays that as an explicit 2-row
    * UNNEST over the 30-min grid. Window starts are epoch seconds (never
    * raw timestamps, per the determinism contract). */
  val q58 = QueryDef(
    "q58_sliding_window",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      e.groupBy(
          window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(
          unix_timestamp(col("w.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))
    },
    Some(s"""WITH x AS (
      SELECT event_type, value,
        (epoch_us(ts) // 1800000000) * 1800 AS w0
      FROM events)
    SELECT ws AS win_start, event_type, COUNT(*) AS n,
      ${sqlDsum("value")} AS sum_value
    FROM x, UNNEST([w0, w0 - 1800]) AS t(ws)
    GROUP BY ws, event_type
    ORDER BY win_start, event_type"""))

  // ---------------------------------------------------------------- q75
  /** q20's top-k-per-group semantics WITHOUT the window shuffle: the
    * native bounded-heap aggregate `graft_top_k`
    * ([[graft.functions.expressions.TopKRows]]) is map-side combinable,
    * so each map task forwards at most k triples per group it saw —
    * shuffle volume is k·groups·tasks bounded, independent of input
    * rows, where the `row_number` window form shuffles and sorts EVERY
    * row of every group. Same oracle shape as q20 (the window SQL is the
    * spec); the total (score DESC, id1, id2) order inside the aggregate
    * makes the retained set merge-order-independent. */
  val q75 = QueryDef(
    "q75_grouped_topk_agg",
    (spark, dir) => {
      val li = Tables(spark, dir).lineitem
      li.groupBy(col("l_suppkey"))
        .agg(call_function("graft_top_k",
          col("l_extendedprice"), col("l_orderkey"),
          col("l_linenumber").cast(LongType), lit(3)).as("top"))
        .select(col("l_suppkey"), posexplode(col("top")).as(Seq("rk0", "t")))
        .select(
          col("l_suppkey"),
          (col("rk0") + 1).cast(IntegerType).as("rk"),
          col("t.id1").as("l_orderkey"),
          col("t.score").as("price"))
        .orderBy(col("l_suppkey"), col("rk"))
    },
    Some("""SELECT l_suppkey, CAST(rk AS INT) AS rk, l_orderkey, price
    FROM (SELECT l_suppkey, l_orderkey, l_extendedprice AS price,
            ROW_NUMBER() OVER (PARTITION BY l_suppkey
              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
          FROM lineitem)
    WHERE rk <= 3
    ORDER BY l_suppkey, rk"""))

  // ---------------------------------------------------------------- q80
  /** Value-range window frame (`rangeBetween`, the frame kind q21/q24's
    * row frames don't cover): per customer, the trailing-30-day order
    * count and revenue — the frame is defined by the ORDER-BY VALUE
    * (epoch seconds), so rows with sparse/dense timestamps get exactly
    * the orders within the 30-day window, not a fixed row count.
    *
    * Determinism: revenue is summed as exact integer cents
    * (`round(price·100)` — prices are 2-dp doubles), so frame
    * evaluation order can't perturb a float sum; epoch output is BIGINT
    * (contract rule 5: never raw timestamps). Ties in epoch share an
    * identical frame by RANGE semantics in both engines.
    *
    * Scale: one shuffle on the partition key, per-key sorted range scan
    * — the same shape as every partitioned window here. */
  val q80 = QueryDef(
    "q80_range_frame",
    (spark, dir) => {
      val o = Tables(spark, dir).orders
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("epoch"))
        .rangeBetween(-30L * 86400, Window.currentRow)
      o.select(col("o_custkey"), col("o_orderkey"),
          unix_timestamp(col("o_orderdate")).as("epoch"),
          round(col("o_totalprice") * 100).cast(LongType).as("cents"))
        .withColumn("trailing_cnt", count(lit(1)).over(w))
        .withColumn("trailing_cents", sum(col("cents")).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("epoch"),
          col("trailing_cnt"), col("trailing_cents"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    Some("""WITH o AS (
      SELECT o_custkey, o_orderkey,
        CAST(epoch(o_orderdate) AS BIGINT) AS epoch,
        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders)
    SELECT o_custkey, o_orderkey, epoch,
      COUNT(*) OVER w AS trailing_cnt,
      CAST(SUM(cents) OVER w AS BIGINT) AS trailing_cents
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch
      RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey"""))

  // ---------------------------------------------------------------- q90
  /** Time-series gap fill: the hourly per-type event series INCLUDING
    * empty hours — each type's series is zero-filled between its own
    * first and last active hour (per-key spans, so no cross product:
    * the hour frame is `groupBy(type) → min/max → explode(sequence)`,
    * equi-joined back to the observed buckets). Resampling with
    * zero-fill is what makes a sparse event log usable as a dense
    * model-input series — downstream window ops (q21/q24's running
    * aggregates) silently skip missing buckets otherwise.
    *
    * Determinism: hour emitted as epoch seconds BIGINT (never a raw
    * timestamp, contract rule 5); counts are exact.
    *
    * Scale: output rows = Σ per-type span-hours — bounded by type count
    * × time span, independent of event volume; the only row-scale work
    * is the hourly pre-aggregation (partial+final hash agg). */
  val q90 = QueryDef(
    "q90_gapfill",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      val hourly = e.groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"))
      val frame = hourly.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      frame.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"),
          unix_timestamp(col("h")).as("hour_epoch"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("event_type").asc_nulls_first,
          col("hour_epoch").asc_nulls_first)
    },
    Some("""WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    sp AS (
      SELECT event_type,
        generate_series(MIN(h), MAX(h), INTERVAL 1 HOUR) AS hs
      FROM b GROUP BY event_type),
    frame AS (SELECT event_type, unnest(hs) AS h FROM sp)
    SELECT f.event_type,
      epoch_ns(f.h) // 1000000000 AS hour_epoch,
      COALESCE(b.n, 0) AS n
    FROM frame f
    LEFT JOIN b ON b.event_type = f.event_type AND b.h = f.h
    ORDER BY f.event_type ASC NULLS FIRST, hour_epoch ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q91
  /** Forward-fill imputation (LOCF — last observation carried forward)
    * over q90's zero-filled frame: gap hours inherit the most recent
    * observed hourly mean instead of a zero, the standard imputation for
    * sampled metrics (a gauge that wasn't read is still at its last
    * value; q90's zero-fill is for COUNTS, where absence really is 0).
    * `last(ignoreNulls).over(unboundedPreceding→current)` is Spark's
    * running-LOCF idiom; each type's span starts at its first observed
    * hour, so the carried value is never null. Hourly means use the
    * [[graft.Det]] decimal form — the carried values must be
    * bit-identical cross-engine for the hash compare.
    *
    * Scale: same shape as q90 plus one partitioned window (shuffle on
    * the type key, per-key sorted scan — never a global window). */
  val q91 = QueryDef(
    "q91_locf",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(date_trunc("hour", col("ts")).as("h"), col("event_type"),
          col("value"))
      val hourly = e.groupBy(col("event_type"), col("h"))
        .agg(davg(col("value")).as("v"))
      val frame = hourly.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      frame.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"),
          unix_timestamp(col("h")).as("hour_epoch"),
          last(col("v"), ignoreNulls = true).over(w).as("v_locf"))
        .orderBy(col("event_type").asc_nulls_first,
          col("hour_epoch").asc_nulls_first)
    },
    Some(s"""WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
        ${Det.sqlDavg("value")} AS v
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    sp AS (
      SELECT event_type,
        generate_series(MIN(h), MAX(h), INTERVAL 1 HOUR) AS hs
      FROM b GROUP BY event_type),
    frame AS (SELECT event_type, unnest(hs) AS h FROM sp)
    SELECT event_type,
      epoch_ns(h) // 1000000000 AS hour_epoch,
      last_value(b.v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf
    FROM frame LEFT JOIN b USING (event_type, h)
    ORDER BY event_type ASC NULLS FIRST, hour_epoch ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q97
  /** Batch twin of the streaming stream-stream interval join
    * ([[graft.streaming.StreamOps.intervalJoin]], spec'd on two
    * MemoryStreams): each error event joined to the same user's
    * purchases in the PRECEDING hour — same inner-join shape, same
    * one-sided time bound. The join is an equi-join on the user key with
    * the interval as a join-time range predicate (never a cartesian —
    * the workload PlanSpec guard sees this query like every other), the
    * standard batch form of a watermarked interval join.
    *
    * Determinism: both engines compare integer MICROsecond epochs —
    * Spark's events loader truncates the parquet nanos to µs, and the
    * oracle applies the same `epoch_ns // 1000` truncation, so no
    * sub-µs fringe can flip a boundary match between engines (contract
    * rule: no raw-timestamp comparisons across engines on the ns
    * table). */
  val q97 = QueryDef(
    "q97_interval_join_batch",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      val errs = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          unix_micros(col("ts")).as("err_us"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          unix_micros(col("ts")).as("p_us"), col("value"))
      errs.join(purch,
          col("user_id") === col("p_user") &&
          col("p_us") <= col("err_us") &&
          col("p_us") >= col("err_us") - lit(3600L * 1000000L))
        .groupBy(col("err_id"), col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("value")).as("purch_value"))
        .orderBy(col("err_id").asc_nulls_first)
    },
    Some(s"""SELECT e.event_id AS err_id, e.user_id,
      COUNT(*) AS n_purchases,
      ${sqlDsum("p.value")} AS purch_value
    FROM events e JOIN events p
      ON p.user_id = e.user_id
      AND epoch_ns(p.ts) // 1000 <= epoch_ns(e.ts) // 1000
      AND epoch_ns(p.ts) // 1000 >= epoch_ns(e.ts) // 1000 - 3600000000
    WHERE e.event_type = 'error' AND p.event_type = 'purchase'
    GROUP BY 1, 2
    ORDER BY err_id NULLS FIRST"""))

  // ---------------------------------------------------------------- q105
  /** Ordered-funnel analysis (signup → view → purchase): the event-
    * sequence conversion query every product/event pipeline runs. Each
    * stage is the user's FIRST qualifying event strictly after their
    * previous stage's time — the strict-order semantics (a view before
    * the signup does not count), not mere set membership.
    *
    * Scale shape: per-stage min-aggregates and every join are equi on
    * `user_id`, so the whole funnel is shuffles on one high-cardinality
    * key; no window sort over the full stream, no cross products. Stage
    * depth adds joins linearly — a 10-stage funnel is 10 bounded
    * equi-joins, which survives a 100 TB event log. Each stage's
    * subtree appears in at most two downstream plans (the next stage
    * and the final assembly), so the recomputation bound is 2× per
    * stage; on a dominant event scan, `.cut()` the per-stage per-user
    * aggregates (they are user-cardinality small) to trade that for
    * materialization.
    *
    * Determinism: stage times compare as integer µs epochs
    * ([[Tables.events]] canonical µs ↔ the oracle's `epoch_ns // 1000`),
    * and the output is the per-user terminal stage, not a timestamp. */
  /** The strict-order per-stage first-time frames over a
    * `(user_id, event_type, us)` event frame — factored so q129's
    * transition-timing percentiles reuse the identical funnel
    * semantics. Returns (signup, view, purchase) per-user min-times. */
  private[graft] def funnelStages(e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val s = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("s_us"))
    val v = e.filter(col("event_type") === "view")
      .join(s, "user_id").filter(col("us") > col("s_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val p = e.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("us") > col("v_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    (s, v, p)
  }

  val q105 = QueryDef(
    "q105_funnel",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val (s, v, p) = funnelStages(e)
      s.join(v, Seq("user_id"), "left_outer")
        .join(p, Seq("user_id"), "left_outer")
        .select(col("user_id"),
          when(col("p_us").isNotNull, "purchase")
            .when(col("v_us").isNotNull, "view")
            .otherwise("signup").as("stage"))
        .orderBy(col("user_id").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
    s AS (SELECT user_id, MIN(us) AS s_us FROM e
          WHERE event_type = 'signup' GROUP BY user_id),
    v AS (SELECT e.user_id, MIN(us) AS v_us FROM e JOIN s USING (user_id)
          WHERE event_type = 'view' AND us > s_us GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(us) AS p_us FROM e JOIN v USING (user_id)
          WHERE event_type = 'purchase' AND us > v_us GROUP BY e.user_id)
    SELECT s.user_id,
      CASE WHEN p.p_us IS NOT NULL THEN 'purchase'
           WHEN v.v_us IS NOT NULL THEN 'view'
           ELSE 'signup' END AS stage
    FROM s LEFT JOIN v ON s.user_id = v.user_id
           LEFT JOIN p ON s.user_id = p.user_id
    ORDER BY s.user_id ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q129
  /** Funnel transition timing: how long converting users took per stage
    * hop (signup→view, view→purchase) — the latency companion to q105's
    * conversion counts ("how MANY converted" vs "how FAST"). Median and
    * p90 seconds per transition from the exact same strict-order stage
    * frames ([[funnelStages]]).
    *
    * Latencies are integer µs differences of per-user stage minima;
    * exact interpolated percentiles over integers agree cross-engine
    * (q82's cents precedent). The µs→seconds conversion rounds in the
    * exact DECI-µs domain first (`round(p·10)` — interpolated values
    * are exact tenths of a µs, so ·10 is integer-valued, never a
    * round-half boundary) and then divides once: `round(x/1e6, 6)`
    * directly would land EXACTLY on the rounding half-boundary whenever
    * the median interpolates to .5 µs, where the engines' double
    * rounding legitimately differs by an ulp (observed at sf0.01). Exact
    * `percentile` buffers one group's values — per-transition, user-
    * cardinality bounded; the 100 TB swap is `approx_percentile` (same
    * plan shape, sketch-mergeable), q112's documented pattern.
    *
    * Scale: the funnel is q105's equi-join chain on `user_id`; each
    * timing aggregate is one extra reduce over the (tiny) converted-user
    * frames. Output is |transitions| rows. */
  val q129 = QueryDef(
    "q129_funnel_timing",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val (s, v, p) = funnelStages(e)
      val sv = v.join(s, "user_id").select((col("v_us") - col("s_us")).as("d"))
      val vp = p.join(v, "user_id").select((col("p_us") - col("v_us")).as("d"))
      def timed(frame: DataFrame, name: String) = frame.agg(
        lit(name).as("transition"),
        count(lit(1)).as("n_users"),
        (round(expr("percentile(d, 0.5)") * 10.0, 0) / 10000000.0).as("med_s"),
        (round(expr("percentile(d, 0.9)") * 10.0, 0) / 10000000.0).as("p90_s"))
      timed(sv, "signup_to_view").unionByName(timed(vp, "view_to_purchase"))
        .orderBy(col("transition").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
    s AS (SELECT user_id, MIN(us) AS s_us FROM e
          WHERE event_type = 'signup' GROUP BY user_id),
    v AS (SELECT e.user_id, MIN(us) AS v_us FROM e JOIN s USING (user_id)
          WHERE event_type = 'view' AND us > s_us GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(us) AS p_us FROM e JOIN v USING (user_id)
          WHERE event_type = 'purchase' AND us > v_us GROUP BY e.user_id),
    sv AS (SELECT v.v_us - s.s_us AS d FROM v JOIN s USING (user_id)),
    vp AS (SELECT p.p_us - v.v_us AS d FROM p JOIN v USING (user_id))
    SELECT 'signup_to_view' AS transition, COUNT(*) AS n_users,
      round(quantile_cont(d, 0.5) * 10.0) / 10000000.0 AS med_s,
      round(quantile_cont(d, 0.9) * 10.0) / 10000000.0 AS p90_s
    FROM sv
    UNION ALL
    SELECT 'view_to_purchase', COUNT(*),
      round(quantile_cont(d, 0.5) * 10.0) / 10000000.0,
      round(quantile_cont(d, 0.9) * 10.0) / 10000000.0
    FROM vp
    ORDER BY transition ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q133
  /** Rolling 7-day distinct active users per day — the WAU curve, and
    * the operator SQL windows cannot express (DISTINCT inside a sliding
    * frame is unsupported — and would hold a per-frame set anyway).
    *
    * The distributed form is the contribute-forward trick: dedupe to
    * (user, activity day) once, explode each into its 7 target days
    * (activity on d makes the user active for windows d..d+6), then ONE
    * distinct aggregate per target day. Linear in the window length —
    * k×|user-days| intermediate rows and two key-partitioned shuffles,
    * vs 7 self-joins or a per-day frame set. At month-scale windows the
    * mergeable-sketch path (per-day HLL partials unioned over the
    * window, q123's machinery) is the approximate swap with k-free
    * shuffle volume. Trailing days past the last activity keep their
    * lookback semantics and are emitted (documented; the curve's tail
    * decays over the final 6 days).
    *
    * Determinism: exact integer counts keyed by DATE (contract rule —
    * session TZ pinned UTC ↔ DuckDB naive casts agree). */
  val q133 = QueryDef(
    "q133_rolling_distinct",
    (spark, dir) => {
      val ud = Tables(spark, dir).events
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      ud.withColumn("i", explode(sequence(lit(0), lit(6))))
        .select(col("user_id"), expr("date_add(d, i)").as("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("u7"))
        .orderBy(col("day").asc_nulls_first)
    },
    Some("""WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    c AS (
      SELECT user_id, d + CAST(t.i AS INTEGER) AS day
      FROM ud CROSS JOIN UNNEST(range(0, 7)) AS t(i))
    SELECT day, COUNT(DISTINCT user_id) AS u7
    FROM c
    GROUP BY day
    ORDER BY day ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q144
  /** Deadline-bounded funnel — q105's strict-order stages with a
    * conversion WINDOW: a view only counts within 24 h of the signup,
    * a purchase within 24 h of that view. The product-analytics form
    * ("converted within a day"), where unbounded q105 answers
    * "converted ever"; the gap between the two numbers is itself the
    * signal. Output: per-stage reached counts and the conversion rate
    * from the previous stage.
    *
    * Same scale shape as q105 — per-stage min-aggregates and equi-joins
    * on `user_id`; the deadline is one extra integer-µs predicate
    * riding each stage's filter. Rates are exact integer ratios
    * divided once (rounded at output). */
  val q144 = QueryDef(
    "q144_funnel_deadline",
    (spark, dir) => {
      val dayUs = 86400L * 1000000L
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val s = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("us")).as("s_us"))
      val v = e.filter(col("event_type") === "view")
        .join(s, "user_id")
        .filter(col("us") > col("s_us") && col("us") <= col("s_us") + dayUs)
        .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
      val p = e.filter(col("event_type") === "purchase")
        .join(v, "user_id")
        .filter(col("us") > col("v_us") && col("us") <= col("v_us") + dayUs)
        .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
      val counts = s.agg(count(lit(1)).as("n")).withColumn("stage", lit("1_signup"))
        .unionByName(v.agg(count(lit(1)).as("n")).withColumn("stage", lit("2_view_24h")))
        .unionByName(p.agg(count(lit(1)).as("n")).withColumn("stage", lit("3_purchase_24h")))
      val w = Window.orderBy(col("stage").asc)
      counts
        .withColumn("conv_rate",
          round(col("n").cast(DoubleType) / lag(col("n"), 1).over(w), 6))
        .select(col("stage"), col("n"), col("conv_rate"))
        .orderBy(col("stage").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
    s AS (SELECT user_id, MIN(us) AS s_us FROM e
          WHERE event_type = 'signup' GROUP BY user_id),
    v AS (SELECT e.user_id, MIN(us) AS v_us FROM e JOIN s USING (user_id)
          WHERE event_type = 'view' AND us > s_us AND us <= s_us + 86400000000
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(us) AS p_us FROM e JOIN v USING (user_id)
          WHERE event_type = 'purchase' AND us > v_us AND us <= v_us + 86400000000
          GROUP BY e.user_id),
    counts AS (
      SELECT '1_signup' AS stage, COUNT(*) AS n FROM s
      UNION ALL SELECT '2_view_24h', COUNT(*) FROM v
      UNION ALL SELECT '3_purchase_24h', COUNT(*) FROM p)
    SELECT stage, n,
      round(CAST(n AS DOUBLE) / lag(n, 1) OVER (ORDER BY stage ASC), 6)
        AS conv_rate
    FROM counts
    ORDER BY stage ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q106
  /** Cohort retention: users grouped by first-seen day (their cohort),
    * counted per day-offset of later activity — the day-N retention
    * triangle. Two shuffles total: one on `user_id` for the cohort
    * assignment, one on the (cohort, offset) pair for the final count;
    * the per-user distinct-activity dedup rides the first shuffle's
    * partitioning. DATE output per the determinism contract (session TZ
    * pinned UTC ↔ DuckDB naive-µs casts agree on the calendar day). */
  val q106 = QueryDef(
    "q106_cohort_retention",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohort = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort_d"))
      e.distinct()
        .join(cohort, "user_id")
        .select(col("cohort_d"), datediff(col("d"), col("cohort_d")).as("day_offset"),
          col("user_id"))
        .groupBy(col("cohort_d"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_d").asc_nulls_first, col("day_offset").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    cohort AS (SELECT user_id, MIN(d) AS cohort_d FROM e GROUP BY user_id)
    SELECT cohort_d,
      CAST(date_diff('day', cohort_d, d) AS INT) AS day_offset,
      COUNT(*) AS n_users
    FROM e JOIN cohort USING (user_id)
    GROUP BY 1, 2
    ORDER BY cohort_d ASC NULLS FIRST, day_offset ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q107
  /** Clickstream path transitions: the event-type transition matrix
    * (prev → next counts) over each user's time-ordered event sequence —
    * with q105's funnel and q106's retention, the third classic
    * event-sequence analytic. One per-user window (`lag` over a
    * high-cardinality key — state distributes, never a global sort) and
    * one small group-by on the |types|² transition space.
    *
    * Determinism: the per-user order is (µs epoch, event_id) — event_id
    * breaks any same-microsecond tie identically in both engines, so
    * `lag` sees one well-defined sequence. */
  val q107 = QueryDef(
    "q107_path_transitions",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc_nulls_first, col("event_id").asc_nulls_first)
      e.withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prev_type").asc_nulls_first, col("event_type").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us, event_id
      FROM events),
    t AS (
      SELECT user_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id
          ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST) AS prev_type
      FROM e)
    SELECT prev_type, event_type, COUNT(*) AS n
    FROM t
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    ORDER BY prev_type ASC NULLS FIRST, event_type ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q146
  /** Per-user behavioral diversity — the Gini–Simpson index over each
    * user's event-type TRANSITION distribution (q107's bigrams at user
    * grain): `1 − Σ(c_i/n)²`. Near 0 = a loop (bot-like repetition of
    * one transition), near the max = uniformly mixed behavior — the
    * per-account signal a bot/abuse screen thresholds, and the
    * diversity form chosen deliberately over Shannon entropy: Simpson
    * is a RATIONAL of integer counts (`1 − Σc²/n²`), so the score is
    * bit-stable cross-engine with no `ln` and no double reduction
    * anywhere ([[Det]]'s rule, the same reason q109 rejects `regr_*`).
    *
    * Shape: one per-user lag window (partitioned — q107's), one
    * (user, transition) hash aggregate, one per-user re-aggregate; all
    * keyed on `user_id`, everything map-side combinable after the
    * window. Users with < 2 events have no transitions and drop out
    * (documented; they have no behavior to score). */
  val q146 = QueryDef(
    "q146_behavior_diversity",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc_nulls_first, col("event_id").asc_nulls_first)
      e.withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("user_id"), col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(
          sum(col("c")).as("n_transitions"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * col("c")).as("ssq"))
        .select(col("user_id"), col("n_transitions"), col("n_distinct"),
          round(lit(1.0) - col("ssq").cast(DoubleType) /
            (col("n_transitions").cast(DoubleType) * col("n_transitions")), 6)
            .as("simpson"))
        .orderBy(col("user_id").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us, event_id
      FROM events),
    t AS (
      SELECT user_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id
          ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST) AS prev_type
      FROM e),
    pairs AS (
      SELECT user_id, prev_type, event_type, COUNT(*) AS c
      FROM t WHERE prev_type IS NOT NULL
      GROUP BY 1, 2, 3)
    SELECT user_id,
      CAST(SUM(c) AS BIGINT) AS n_transitions,
      COUNT(*) AS n_distinct,
      round(1.0 - CAST(SUM(c * c) AS DOUBLE) /
        (CAST(SUM(c) AS DOUBLE) * SUM(c)), 6) AS simpson
    FROM pairs
    GROUP BY user_id
    ORDER BY user_id ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q149
  /** Laplace-smoothed Markov next-event matrix — the MODEL built from
    * q107's transition counts: the full |types|² grid (zero-count
    * transitions included — that is what smoothing is FOR) with
    * `p_ppm = (n + 1)·10⁶ div (row_total + K)`, the add-one estimate of
    * P(dst | src) in exact integer ppm. The next-event predictor a
    * session-recommendation or anomaly screen reads ("this transition
    * has probability < x"), stated cross-engine bit-stable: every
    * quantity is an integer until the single integral divide (through a
    * DECIMAL(28,0) intermediate so n·10⁶ can never wrap int64 at
    * 100 TB).
    *
    * Scale shape: one per-user lag window + one (src, dst) hash
    * aggregate (q107's two exchanges) — everything after is
    * DIMENSION-sized: the types×types grid is a deliberate tiny cross
    * join (|event types|² rows — q16's whitelisted class, registered in
    * PlanSpec's allow-set), row totals broadcast back, the type count a
    * 1-row broadcast (q104/q135's tiny-stats pattern). */
  val q149 = QueryDef(
    "q149_markov_matrix",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc_nulls_first, col("event_id").asc_nulls_first)
      val counts = e.withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type").as("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
      val types = Tables(spark, dir).events
        .select(col("event_type")).distinct()
      val grid = types.select(col("event_type").as("src"))
        .crossJoin(broadcast(types.select(col("event_type").as("dst"))))
      val full = grid.join(counts, Seq("src", "dst"), "left")
        .select(col("src"), col("dst"), coalesce(col("n"), lit(0L)).as("n"))
      val rowTot = full.groupBy(col("src")).agg(sum(col("n")).as("tot"))
      val kDf = types.agg(count(lit(1)).as("k"))
      full.join(broadcast(rowTot), "src")
        .crossJoin(broadcast(kDf))
        .select(col("src"), col("dst"), col("n"),
          expr("CAST(n + 1 AS DECIMAL(28,0)) * 1000000 div (tot + k)").as("p_ppm"))
        .orderBy(col("src").asc_nulls_first, col("dst").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us, event_id
      FROM events),
    t AS (
      SELECT user_id, event_type,
        lag(event_type) OVER (PARTITION BY user_id
          ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST) AS prev_type
      FROM e),
    c AS (
      SELECT prev_type AS src, event_type AS dst, COUNT(*) AS n
      FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    ty AS (SELECT DISTINCT event_type FROM events),
    grid AS (
      SELECT a.event_type AS src, b.event_type AS dst
      FROM ty a CROSS JOIN ty b),
    f AS (
      SELECT g.src, g.dst, COALESCE(c.n, 0) AS n
      FROM grid g LEFT JOIN c ON c.src = g.src AND c.dst = g.dst),
    rt AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM f GROUP BY src),
    k AS (SELECT COUNT(*) AS k FROM ty)
    SELECT f.src, f.dst, CAST(f.n AS BIGINT) AS n,
      CAST((f.n + 1) * 1000000 // (rt.tot + k.k) AS BIGINT) AS p_ppm
    FROM f JOIN rt USING (src) CROSS JOIN k
    ORDER BY src ASC NULLS FIRST, dst ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q158
  /** Per-(user, day) time-weighted average — the gauge-semantics mean
    * the plain AVG gets wrong: a sensor/price/level `value` HOLDS from
    * its event until the next one (q91's LOCF carry semantic), so the
    * honest daily mean weighs each reading by how long it stood, not by
    * how often it was sampled. Burst-heavy feeds (the fixture's
    * minute-scale clusters) otherwise let dense intervals dominate.
    *
    * Definition: reading i holds over [tᵢ, tᵢ₊₁) within the UTC day,
    * the last reading holding to midnight; TWAP = Σ vᵢ·dᵢ / Σ dᵢ with
    * dᵢ in µs. Nothing carries INTO the day before its first event —
    * the denominator is (day_end − first_ts), so days are independent
    * keys (the q108 day-partitioning argument without even a carry
    * join).
    *
    * Exactness: values are micro-scaled longs (`round(value·10⁶)`, the
    * q156/q43 float rule), durations exact µs, and each v·d product is
    * cast to DECIMAL(28,0) BEFORE the multiply (v ~ 10⁹ µunits × d ~
    * 8.6·10¹⁰ µs ≈ 10²⁰ wraps int64 — the q156 envelope pattern); the
    * output is ONE integral divide, twap_micro = Σvd div Σd — always
    * non-negative here (the feed's gauge is ≥ 0, fixture-verified at
    * every sf), so Spark `div` and DuckDB `//` agree; a signed gauge
    * would need the q151 sign-split divide.
    *
    * Scale: one lead window partitioned by the high-cardinality
    * (user_id, day) key — the exchange that window plans is ALSO the
    * partitioning the final per-(user, day) aggregate needs, so the
    * whole query is one shuffle + one map-side-combinable fold. */
  val q158 = QueryDef(
    "q158_twap",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_id"),
          to_date(col("ts")).as("day"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 1000000, 0).cast(LongType).as("v"))
        .withColumn("day_end_us",
          unix_micros(col("day").cast("timestamp")) + lit(86400000000L))
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("us").asc_nulls_first, col("event_id").asc_nulls_first)
      e.withColumn("next_us",
          coalesce(lead(col("us"), 1).over(w), col("day_end_us")))
        .withColumn("d_us", col("next_us") - col("us"))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("d_us")).as("dur_us"),
          sum(col("v").cast(DecimalType(28, 0)) * col("d_us")).as("vd"))
        .select(col("user_id"), col("day"), col("n_events"), col("dur_us"),
          expr("CAST(vd div CAST(dur_us AS DECIMAL(28,0)) AS BIGINT)")
            .as("twap_micro"))
        .orderBy(col("user_id").asc_nulls_first, col("day").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, event_id, CAST(ts AS DATE) AS day,
        epoch_ns(ts) // 1000 AS us,
        CAST(round(value * 1000000) AS BIGINT) AS v
      FROM events),
    held AS (
      SELECT user_id, day, v,
        COALESCE(
          lead(us) OVER (PARTITION BY user_id, day
            ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST),
          epoch_us(CAST(day AS TIMESTAMP)) + 86400000000) - us AS d_us
      FROM e)
    SELECT user_id, day, COUNT(*) AS n_events,
      CAST(SUM(d_us) AS BIGINT) AS dur_us,
      CAST(SUM(CAST(v AS HUGEINT) * d_us) // SUM(CAST(d_us AS HUGEINT))
        AS BIGINT) AS twap_micro
    FROM held
    GROUP BY user_id, day
    ORDER BY user_id ASC NULLS FIRST, day ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q169
  /** Last-touch attribution — the credit-assignment report between
    * q105's funnel (did the user convert?) and q107's transitions
    * (what follows what): each purchase is credited to the LATEST
    * strictly-earlier non-purchase event by the same user within a
    * 7-day lookback; purchases with no qualifying touch (first-ever
    * event, or the last touch is stale) land in the `__none` bucket, so
    * the counts total exactly the purchase count — an attribution table
    * that silently drops unattributed conversions overstates every
    * channel.
    *
    * Shape: ONE user-keyed window pass — `last(non-purchase struct,
    * ignoreNulls)` over rows [unbounded, -1] picks the latest preceding
    * touch in the (µs, event_id) total order (q91's LOCF primitive,
    * here keyed by user) — then a |types|-bounded count. Integer-µs
    * window predicate (q144's 24h-deadline class: no interval
    * arithmetic, no DST seams). At 100 TB: the user shuffle is the
    * only data movement, AQE skew-split applies to hot users. */
  val q169 = QueryDef(
    "q169_attribution",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = last(
        when(col("event_type") =!= "purchase",
          struct(col("us"), col("event_type"))),
        ignoreNulls = true).over(w)
      e.withColumn("t", touch)
        .filter(col("event_type") === "purchase")
        .select(
          when(col("t").isNotNull &&
              col("us") - col("t.us") <= lit(7L * 86400000000L),
            col("t.event_type")).otherwise(lit("__none"))
            .as("attributed_type"))
        .groupBy(col("attributed_type"))
        .agg(count(lit(1)).as("n_conversions"))
        .orderBy(col("attributed_type").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
    t AS (
      SELECT user_id, event_type, us,
        last_value(CASE WHEN event_type <> 'purchase'
            THEN struct_pack(us := us, t := event_type) END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM e)
    SELECT CASE WHEN touch IS NOT NULL AND us - touch.us <= 604800000000
        THEN touch.t ELSE '__none' END AS attributed_type,
      COUNT(*) AS n_conversions
    FROM t
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY attributed_type ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q171
  /** Session journey documents — behavioral-corpus construction: each
    * 30-minute-gap session (q26's assignment, verbatim) serializes to
    * ONE training document whose text is the `>`-joined event-type
    * sequence in the (µs, event_id) total order. This is the bridge
    * from the event stream to the text pipeline: the emitted rows are
    * shaped like the `documents` table, so journey corpora flow through
    * the SAME dedup (q30), packing (q74), splitting (q62) and quality
    * machinery as web text — which is exactly how behavioral sequence
    * models source their pretraining data.
    *
    * Shape: q26's one user-keyed window pass for session ids, then one
    * (user, session) aggregate whose `array_sort(collect_list(struct))`
    * fixes the document's token order regardless of aggregation order
    * (q161's posting-list idiom). Per-session document length is
    * bounded by the session itself — a journey document is a few dozen
    * tokens, never corpus-scale. */
  val q171 = QueryDef(
    "q171_journey_docs",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_s")).over(wRun).cast(LongType))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(
                unix_micros(col("ts")).as("us"), col("event_id"),
                col("event_type")))),
              s => s.getField("event_type")),
            ">").as("journey"),
          count(lit(1)).as("n_events"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
            .cast(LongType).as("duration_sec"))
        .orderBy(col("user_id").asc_nulls_first, col("session_id").asc_nulls_first)
    },
    Some("""WITH x AS (
      SELECT user_id, event_id, event_type, ts,
        CASE WHEN lag(ts, 1) OVER w IS NULL
               OR date_diff('second', lag(ts, 1) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_id, event_type, ts,
        CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM x)
    SELECT user_id, session_id,
      string_agg(event_type, '>' ORDER BY ts, event_id) AS journey,
      COUNT(*) AS n_events,
      date_diff('second', MIN(ts), MAX(ts)) AS duration_sec
    FROM s
    GROUP BY user_id, session_id
    ORDER BY user_id ASC NULLS FIRST, session_id ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q182
  /** Interval union (coverage) per supplier — the gaps-and-islands sweep
    * over true INTERVALS, not point events: each lineitem occupies its
    * supplier for the closed fulfillment window [o_orderdate,
    * l_shipdate]; overlapping or day-adjacent windows merge into busy
    * spans, and the output is each supplier's shipment count, span
    * count, total covered days and longest span. q26 sessionizes POINTS
    * by gap; q108 counts interval OVERLAP depth; this is the third
    * member — total covered TIME with overlap collapsed — the
    * utilization/SLA-coverage primitive.
    *
    * Shape: the classic one-pass sweep — per-supplier running
    * `max(receipt)` over strictly-preceding rows; a row opens a new span
    * iff its ship day clears that running end by more than one day
    * (day-adjacent spans chain: receipt Jan-5 + ship Jan-6 is continuous
    * coverage). Span boundaries are order-independent facts of the
    * interval set, but both engines still sort the identical
    * (ship, receipt, orderkey, linenumber) total order so window frames
    * match row for row. Intervals are normalized up front
    * (`receipt := greatest(ship, receipt)`) so a malformed row cannot
    * produce a negative span.
    *
    * Scale: the interval build is the standard orders ⋈ lineitem
    * equi-join; then one shuffle on `l_suppkey` for the sweep window
    * (suppliers are high-cardinality — state distributes), the
    * span/supplier aggregates reuse dimension-bounded frames, and the
    * name attach is a broadcast. No self-join, no interval cross
    * product — at 100 TB the naive `a JOIN b ON overlaps` alternative
    * is quadratic per key; the sweep is O(n log n), the same plan a
    * native range-interval operator would pick. */
  /** The gaps-and-islands sweep + span/supplier aggregates over an
    * interval frame `(l_suppkey, ship, rcpt, l_orderkey, l_linenumber)`
    * — q182's core, shared with ScaleProbe's `sweep` mode so the scale
    * measurement runs the production code path. */
  private[graft] def intervalUnionOn(iv: DataFrame): DataFrame = {
    val order = Seq(col("ship"), col("rcpt"), col("l_orderkey"), col("l_linenumber"))
    val wPrev = Window.partitionBy(col("l_suppkey")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("l_suppkey")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv
      .withColumn("prev_end", max(col("rcpt")).over(wPrev))
      .withColumn("new_span",
        when(col("prev_end").isNull ||
          col("ship") > date_add(col("prev_end"), 1), 1).otherwise(0))
      .withColumn("span_id", sum(col("new_span")).over(wRun))
      .groupBy(col("l_suppkey"), col("span_id"))
      .agg(min(col("ship")).as("span_start"),
        max(col("rcpt")).as("span_end"),
        count(lit(1)).as("n_items"))
      .groupBy(col("l_suppkey"))
      .agg(
        sum(col("n_items")).as("n_shipments"),
        count(lit(1)).as("n_spans"),
        sum(datediff(col("span_end"), col("span_start")) + 1).as("covered_days"),
        max(datediff(col("span_end"), col("span_start")) + 1)
          .cast(IntegerType).as("max_span_days"))
  }

  val q182 = QueryDef(
    "q182_interval_union",
    (spark, dir) => {
      val t = Tables(spark, dir)
      val li = t.lineitem
        .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"),
          to_date(col("l_shipdate")).as("shipd"))
        .join(t.orders.select(col("o_orderkey"),
          to_date(col("o_orderdate")).as("ship")), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("ship"),
          greatest(col("ship"), col("shipd")).as("rcpt"),
          col("l_orderkey"), col("l_linenumber"))
      intervalUnionOn(li)
        .join(broadcast(Tables(spark, dir).supplier
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_shipments"),
          col("n_spans"), col("covered_days"), col("max_span_days"))
        .orderBy(col("s_suppkey"))
    },
    Some("""WITH iv AS (
      SELECT l_suppkey, CAST(o_orderdate AS DATE) AS ship,
        greatest(CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS rcpt,
        l_orderkey, l_linenumber
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
    marked AS (
      SELECT l_suppkey, ship, rcpt,
        CASE WHEN max(rcpt) OVER (PARTITION BY l_suppkey
            ORDER BY ship, rcpt, l_orderkey, l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
          OR ship > max(rcpt) OVER (PARTITION BY l_suppkey
            ORDER BY ship, rcpt, l_orderkey, l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        THEN 1 ELSE 0 END AS new_span,
        l_orderkey, l_linenumber
      FROM iv),
    sp AS (
      SELECT l_suppkey, ship, rcpt,
        SUM(new_span) OVER (PARTITION BY l_suppkey
          ORDER BY ship, rcpt, l_orderkey, l_linenumber
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM marked),
    spans AS (
      SELECT l_suppkey, span_id, MIN(ship) AS span_start,
        MAX(rcpt) AS span_end, COUNT(*) AS n_items
      FROM sp GROUP BY l_suppkey, span_id)
    SELECT s.s_suppkey, s.s_name,
      CAST(SUM(n_items) AS BIGINT) AS n_shipments,
      CAST(COUNT(*) AS BIGINT) AS n_spans,
      CAST(SUM(date_diff('day', span_start, span_end) + 1) AS BIGINT) AS covered_days,
      CAST(MAX(date_diff('day', span_start, span_end) + 1) AS INT) AS max_span_days
    FROM spans JOIN supplier s ON s.s_suppkey = spans.l_suppkey
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY s.s_suppkey"""))

  // --------------------------------------------------------------- q183
  /** As-of join with a staleness TOLERANCE — q27's backward as-of plus
    * the bound every production lookup needs: an error event only
    * attaches its user's latest preceding purchase if that purchase is
    * at most 24 h old; staler context is worse than none. This is
    * pandas `merge_asof(tolerance=...)` / the sensor's bounded wait
    * (`timeout=3600`, `update_tr_from_ex_dag.py:128`) as a join
    * semantic, and unlike q27 it is a LEFT as-of: every error row
    * survives, unmatched ones with NULL context.
    *
    * The tolerance costs nothing: [[AsOf.backward]]'s union+LOCF carry
    * already surfaces the LATEST preceding purchase, and "latest is too
    * old ⇒ every earlier one is older" (backward monotonicity), so one
    * post-filter is exact — no second search, the single key shuffle is
    * unchanged. At 100 TB this stays one sort-merge pass; the naive
    * pair join + prune is quadratic per key. */
  val q183 = QueryDef(
    "q183_asof_tolerance",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      val errors = e.filter(col("event_type") === "error")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_event_id"),
          col("ts").as("purchase_ts"))
      AsOf.backward(
          errors, purchases,
          keyL = "user_id", keyR = "user_id",
          timeL = "ts", timeR = "ts",
          payload = Seq("purchase_event_id", "purchase_ts"),
          tieR = "purchase_event_id")
        .withColumn("gap_raw",
          (unix_timestamp(col("ts")) - unix_timestamp(col("purchase_ts")))
            .cast(LongType))
        .select(
          col("event_id"), col("user_id"),
          when(col("gap_raw") <= 86400L, col("purchase_event_id"))
            .as("purchase_event_id"),
          when(col("gap_raw") <= 86400L, col("gap_raw")).as("gap_sec"))
        .orderBy(col("event_id"))
    },
    Some("""WITH e AS (SELECT * FROM events WHERE event_type = 'error'),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT e.event_id, p.event_id AS purchase_event_id,
        date_diff('second', p.ts, e.ts) AS gap_sec,
        row_number() OVER (PARTITION BY e.event_id
          ORDER BY p.ts DESC, p.event_id DESC) AS rn
      FROM e JOIN p ON e.user_id = p.user_id AND p.ts <= e.ts),
    m AS (
      SELECT event_id, purchase_event_id, gap_sec
      FROM j WHERE rn = 1 AND gap_sec <= 86400)
    SELECT e.event_id, e.user_id, m.purchase_event_id, m.gap_sec
    FROM e LEFT JOIN m ON m.event_id = e.event_id
    ORDER BY e.event_id"""))

  // --------------------------------------------------------------- q189
  /** Top journey TRIGRAMS — the 3-step extension of q107's transition
    * bigrams: which contiguous (a → b → c) paths dominate user
    * behavior? Bigrams give the Markov-1 view (q149 estimates from
    * them); trigrams expose exactly the second-order structure a
    * Markov-1 model washes out (e.g. error → click → error loops vs
    * error → click → purchase recoveries) — the standard diagnostic
    * before committing to order-1 sequence features in a behavioral
    * corpus (q171).
    *
    * Shape: ONE user-keyed window (two lags ride the same sort), one
    * map-side-combinable count to a ≤|types|³ frame, top-20 via
    * TakeOrdered on the (n DESC, path ASC) total order. Stage depth is
    * constant in n-gram length — lag(k) adds columns, not shuffles. */
  val q189 = QueryDef(
    "q189_journey_trigrams",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc_nulls_first, col("event_id").asc_nulls_first)
      e.withColumn("t1", lag(col("event_type"), 2).over(byUser))
        .withColumn("t2", lag(col("event_type"), 1).over(byUser))
        .filter(col("t1").isNotNull && col("t2").isNotNull)
        .groupBy(col("t1"), col("t2"), col("event_type").as("t3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t1").asc, col("t2").asc, col("t3").asc)
        .limit(20)
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us, event_id
      FROM events),
    t AS (
      SELECT user_id, event_type,
        lag(event_type, 2) OVER (PARTITION BY user_id
          ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST) AS t1,
        lag(event_type, 1) OVER (PARTITION BY user_id
          ORDER BY us ASC NULLS FIRST, event_id ASC NULLS FIRST) AS t2
      FROM e)
    SELECT t1, t2, event_type AS t3, COUNT(*) AS n
    FROM t
    WHERE t1 IS NOT NULL AND t2 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, t1 ASC, t2 ASC, t3 ASC
    LIMIT 20"""))

  // --------------------------------------------------------------- q200
  /** Position-based (U-shaped) multi-touch attribution — the
    * credit-SPLITTING model next to q169's last-touch: each purchase's
    * credit of 10⁶ ppm is divided over ALL its preceding touches within
    * the 7-day lookback (a touch belongs to its NEAREST following
    * purchase, so no touch is counted twice): one touch takes all, two
    * split 50/50, three-plus give 40% to the first, 40% to the last and
    * split the remaining 20% evenly over the middles — the standard
    * U-shape every attribution suite ships beside first/last-touch.
    *
    * Conservation is EXACT, not approximate: middles take
    * `200000 div (k−2)` each and the integer remainder goes to the last
    * touch (a deterministic rule, not float crumbs), and conversions
    * with no qualifying touch land in `__none` with their full 10⁶ —
    * so Σ credit = conversions × 10⁶ identically (spec-asserted), the
    * same books-balance property q169 keeps for counts.
    *
    * Shape: ONE user-keyed window (nearest following purchase via a
    * [1, ∞) frame `first(ignoreNulls)` — q169's LOCF primitive
    * mirrored forward), one (user, conversion)-keyed window pair
    * (row_number + count) for positions, an anti-join for the
    * untouched conversions, then a \|types\|-bounded aggregate. At
    * 100 TB: two passes over the same user shuffle, no self-joins. */
  val q200 = QueryDef(
    "q200_position_attribution",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("event_id"))
      val wFwd = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc, col("event_id").asc)
        .rowsBetween(1, Window.unboundedFollowing)
      val nxt = first(
        when(col("event_type") === "purchase",
          struct(col("us"), col("event_id"))),
        ignoreNulls = true).over(wFwd)
      val touches = e.withColumn("nxt", nxt)
        .filter(col("event_type") =!= "purchase" && col("nxt").isNotNull &&
          col("nxt.us") - col("us") <= lit(7L * 86400000000L))
        .select(col("user_id"), col("event_type"), col("us"), col("event_id"),
          col("nxt.event_id").as("conv"))
      val wConv = Window.partitionBy(col("user_id"), col("conv"))
        .orderBy(col("us").asc, col("event_id").asc)
      val wConvAll = Window.partitionBy(col("user_id"), col("conv"))
      val credited = touches
        .withColumn("pos", row_number().over(wConv))
        .withColumn("k", count(lit(1)).over(wConvAll))
        .withColumn("credit_ppm",
          when(col("k") === 1, lit(1000000L))
            .when(col("k") === 2, lit(500000L))
            .when(col("pos") === 1, lit(400000L))
            .when(col("pos") === col("k"),
              lit(400000L) + lit(200000L)
                - expr("200000 div (k - 2)") * (col("k") - 2))
            .otherwise(expr("CAST(200000 div (k - 2) AS BIGINT)")))
      val byType = credited.groupBy(col("event_type").as("attributed_type"))
        .agg(sum(col("credit_ppm")).as("credit_ppm"),
          count(lit(1)).as("n_touches"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"))
      val untouched = purchases
        .join(credited.select(col("conv").as("event_id")).distinct(),
          Seq("event_id"), "left_anti")
        .agg(count(lit(1)).as("n"))
        .select(lit("__none").as("attributed_type"),
          (col("n") * 1000000L).as("credit_ppm"),
          lit(0L).as("n_touches"))
      byType.unionByName(untouched)
        .orderBy(col("attributed_type").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
    t AS (
      SELECT user_id, event_type, us, event_id,
        first_value(CASE WHEN event_type = 'purchase'
            THEN struct_pack(us := us, eid := event_id) END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
      FROM e),
    touches AS (
      SELECT user_id, event_type, us, event_id, nxt.eid AS conv
      FROM t
      WHERE event_type <> 'purchase' AND nxt IS NOT NULL
        AND nxt.us - us <= 604800000000),
    credited AS (
      SELECT event_type,
        CASE WHEN k = 1 THEN 1000000
          WHEN k = 2 THEN 500000
          WHEN pos = 1 THEN 400000
          WHEN pos = k THEN 400000 + 200000 - (200000 // (k - 2)) * (k - 2)
          ELSE 200000 // (k - 2) END AS credit_ppm
      FROM (
        SELECT event_type,
          ROW_NUMBER() OVER (PARTITION BY user_id, conv
            ORDER BY us ASC, event_id ASC) AS pos,
          COUNT(*) OVER (PARTITION BY user_id, conv) AS k
        FROM touches)),
    by_type AS (
      SELECT event_type AS attributed_type,
        CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm,
        COUNT(*) AS n_touches
      FROM credited GROUP BY 1),
    untouched AS (
      SELECT '__none' AS attributed_type,
        CAST(COUNT(*) * 1000000 AS BIGINT) AS credit_ppm,
        CAST(0 AS BIGINT) AS n_touches
      FROM e
      WHERE event_type = 'purchase'
        AND event_id NOT IN (SELECT DISTINCT conv FROM touches))
    SELECT * FROM by_type
    UNION ALL
    SELECT * FROM untouched
    ORDER BY attributed_type ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q201
  /** Funnel latency percentiles from the deterministic quantile sketch —
    * q129's question ("how FAST do converters move per hop") answered
    * the way it must be at 100 TB: per hop, p50/p90/p99 time-to-convert
    * as q193 SKETCH BINS (≤6.25% relative), not exact interpolated
    * percentiles — the exact form needs a per-hop sort (or per-group
    * percentile state linear in users), the bins need one
    * map-side-combinable count to ≤1024 rows per hop, and the bins
    * sum-merge so the latency dashboard maintains incrementally from
    * stored pages (the q181/q190 story). A deliberate composition:
    * [[funnelStages]]' strict-order hop frames feed
    * [[Analytic.quantileSketchGauge]] unchanged, so funnel semantics
    * and gauge math each have exactly one definition.
    *
    * Latencies are integer µs differences of per-user stage minima
    * (q129's values, bit-identical); both output bounds are exact
    * BIGINT µs. */
  val q201 = QueryDef(
    "q201_funnel_latency_sketch",
    (spark, dir) => {
      val e = Tables(spark, dir).events
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val (s, v, p) = funnelStages(e)
      val hops = s.join(v, "user_id")
        .select(lit("1_signup_view").as("g"), (col("v_us") - col("s_us")).as("v"))
        .unionByName(v.join(p, "user_id")
          .select(lit("2_view_purchase").as("g"), (col("p_us") - col("v_us")).as("v")))
      Analytic.quantileSketchGauge(hops)
        .withColumnRenamed("g", "hop")
        .orderBy(col("hop").asc_nulls_first)
    },
    Some("""WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us FROM events),
    s AS (SELECT user_id, MIN(us) AS s_us FROM e
          WHERE event_type = 'signup' GROUP BY user_id),
    vv AS (SELECT e.user_id, MIN(us) AS v_us FROM e JOIN s USING (user_id)
          WHERE event_type = 'view' AND us > s_us GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(us) AS p_us FROM e JOIN vv USING (user_id)
          WHERE event_type = 'purchase' AND us > v_us GROUP BY e.user_id),
    vals AS (
      SELECT '1_signup_view' AS g, v_us - s_us AS v
      FROM s JOIN vv USING (user_id)
      UNION ALL
      SELECT '2_view_purchase', p_us - v_us
      FROM vv JOIN p USING (user_id)),
    binned AS (
      SELECT g,
        CASE WHEN v < 16 THEN v
          ELSE (length(bin(v)) - 1) * 16
            + ((v >> CAST(length(bin(v)) - 5 AS INTEGER)) - 16)
        END AS id
      FROM vals),
    counts AS (
      SELECT g, id, COUNT(*) AS c FROM binned GROUP BY 1, 2),
    cum AS (
      SELECT g, id, c,
        SUM(c) OVER (PARTITION BY g ORDER BY id ASC
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts),
    totals AS (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY 1),
    picked AS (
      SELECT cum.g, MAX(n) AS n,
        MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN id END) AS id50,
        MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN id END) AS id90,
        MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN id END) AS id99
      FROM cum JOIN totals USING (g)
      GROUP BY 1)
    SELECT g AS hop, n,
      CASE WHEN id50 < 64 THEN id50 ELSE (CAST(16 + id50 % 16 AS BIGINT) << CAST(id50 // 16 - 4 AS INTEGER)) END AS p50_lo,
      CASE WHEN id50 < 64 THEN id50 + 1 ELSE ((CAST(16 + id50 % 16 AS BIGINT) << CAST(id50 // 16 - 4 AS INTEGER))) + (CAST(1 AS BIGINT) << CAST(id50 // 16 - 4 AS INTEGER)) END AS p50_hi,
      CASE WHEN id90 < 64 THEN id90 ELSE (CAST(16 + id90 % 16 AS BIGINT) << CAST(id90 // 16 - 4 AS INTEGER)) END AS p90_lo,
      CASE WHEN id90 < 64 THEN id90 + 1 ELSE ((CAST(16 + id90 % 16 AS BIGINT) << CAST(id90 // 16 - 4 AS INTEGER))) + (CAST(1 AS BIGINT) << CAST(id90 // 16 - 4 AS INTEGER)) END AS p90_hi,
      CASE WHEN id99 < 64 THEN id99 ELSE (CAST(16 + id99 % 16 AS BIGINT) << CAST(id99 // 16 - 4 AS INTEGER)) END AS p99_lo,
      CASE WHEN id99 < 64 THEN id99 + 1 ELSE ((CAST(16 + id99 % 16 AS BIGINT) << CAST(id99 // 16 - 4 AS INTEGER))) + (CAST(1 AS BIGINT) << CAST(id99 // 16 - 4 AS INTEGER)) END AS p99_hi
    FROM picked
    ORDER BY hop ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q218
  /** Daily session-quality KPIs — the product-analytics table sitting on
    * q26's sessionization: per session-START day, session volume, the
    * bounce rate (single-event sessions) in exact ppm, integer-exact
    * p50/p90 session DEPTH, and total engaged seconds. The engagement
    * dashboard every behavioral pipeline (q171's corpora, q105's
    * funnels) is sanity-checked against.
    *
    * Determinism: depth percentiles use the q134 integer rule (smallest
    * depth with cum·2 ≥ n, cum·10 ≥ 9n) — no interpolated halves;
    * bounce ppm is a DECIMAL-routed integral divide; durations are
    * exact epoch-second differences summed as integers.
    *
    * Shape: q26's ONE user-keyed window pass builds sessions (cut —
    * the depth histogram and the day totals both consume it); after
    * that everything is |days|- or (day, depth)-bounded dimension
    * frames. A session spanning midnight belongs to its start day. */
  val q218 = QueryDef(
    "q218_session_kpis",
    (spark, dir) => {
      val e = Tables(spark, dir).events
      val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sessions = graft.Materialize.cut(
        e.withColumn("prev_ts", lag(col("ts"), 1).over(wOrd))
          .withColumn("new_s",
            when(col("prev_ts").isNull ||
              (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1)
              .otherwise(0))
          .withColumn("session_id", sum(col("new_s")).over(wRun).cast(LongType))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("depth"),
            (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
              .cast(LongType).as("dur_sec"),
            to_date(min(col("ts"))).as("day")))
      val byDepth = sessions.groupBy(col("day"), col("depth"))
        .agg(count(lit(1)).as("c"))
      val run = Window.partitionBy(col("day")).orderBy(col("depth").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byDepth.withColumn("cum", sum(col("c")).over(run))
      val tot = sessions.groupBy(col("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("depth") === 1, 1L).otherwise(0L)).as("bounces"),
          sum(col("dur_sec")).as("total_dur_sec"))
      val picks = cum
        .join(broadcast(tot.select(col("day"), col("n_sessions"))), "day")
        .groupBy(col("day"))
        .agg(min(when(col("cum") * 2 >= col("n_sessions"), col("depth")))
            .as("p50_depth"),
          min(when(col("cum") * 10 >= col("n_sessions") * 9, col("depth")))
            .as("p90_depth"))
      tot.join(picks, "day")
        .select(col("day"), col("n_sessions"),
          expr("CAST(bounces AS DECIMAL(28,0)) * 1000000 div n_sessions")
            .as("bounce_ppm"),
          col("p50_depth"), col("p90_depth"), col("total_dur_sec"))
        .orderBy(col("day").asc_nulls_first)
    },
    Some("""WITH x AS (
      SELECT user_id, event_id, ts,
        CASE WHEN lag(ts, 1) OVER w IS NULL
               OR date_diff('second', lag(ts, 1) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
        CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_id
      FROM x),
    sess AS (
      SELECT user_id, session_id, COUNT(*) AS depth,
        date_diff('second', MIN(ts), MAX(ts)) AS dur_sec,
        CAST(MIN(ts) AS DATE) AS day
      FROM s GROUP BY 1, 2),
    bydepth AS (SELECT day, depth, COUNT(*) AS c FROM sess GROUP BY 1, 2),
    cum AS (
      SELECT day, depth, c,
        SUM(c) OVER (PARTITION BY day ORDER BY depth
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM bydepth),
    tot AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
        CAST(SUM(dur_sec) AS BIGINT) AS total_dur_sec
      FROM sess GROUP BY 1),
    picks AS (
      SELECT cum.day,
        CAST(MIN(CASE WHEN cum * 2 >= n_sessions THEN depth END) AS BIGINT)
          AS p50_depth,
        CAST(MIN(CASE WHEN cum * 10 >= n_sessions * 9 THEN depth END) AS BIGINT)
          AS p90_depth
      FROM cum JOIN tot USING (day) GROUP BY 1)
    SELECT t.day, t.n_sessions,
      CAST(t.bounces * 1000000 // t.n_sessions AS BIGINT) AS bounce_ppm,
      p.p50_depth, p.p90_depth, t.total_dur_sec
    FROM tot t JOIN picks p ON p.day = t.day
    ORDER BY t.day ASC NULLS FIRST"""))

  override def queries: Seq[QueryDef] =
    Seq(q20, q21, q22, q23, q24, q25, q26, q27, q58, q75, q80, q83, q90, q91, q97,
      q105, q106, q107, q129, q133, q144, q146, q149, q158, q169, q171, q182, q183,
      q189, q200, q201, q218)
}
