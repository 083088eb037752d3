package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Central registry of driver-checked queries.
  *
  * Each entry pairs a Spark implementation with (when SQL-expressible) a
  * DuckDB oracle over the same parquet tables. Conventions for oracle
  * parity:
  *   - every computed column aliased identically on both sides;
  *   - floating-point aggregates rounded to 4 decimals on both sides;
  *   - timestamps surfaced as DATE or epoch BIGINT (never raw ns ts);
  *   - deterministic total order inside any top-k (tie-break on a key).
  */
object Queries {

  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String] = None)

  /** round(x, 4) — FP-stable cross-engine compare for double aggregates. */
  private def r4(c: Column): Column = round(c, 4)

  /** floor(x·10⁴ + ½)/10⁴ — the floor-form 4-decimal convention (used
    * where engines' round() semantics can differ at .5 boundaries); the
    * DuckDB oracle must spell the identical expression. */
  private def fl4(c: Column): Column = floor(c * 10000 + lit(0.5)) / 10000

  /** Exact money lane (round-11 fl4 audit, PLANS.md): the testdata money
    * columns (l_quantity/l_extendedprice/l_discount/o_totalprice/
    * events.value) are all 2-decimal values stored as doubles (max fp
    * drift ~4e-9), so `floor(x·100 + ½)` recovers exact integer cents and
    * BIGINT sums of them are ORDER-FREE — immune to the partial-agg
    * merge-order nondeterminism a raw double sum inherits from shuffle
    * arrival order (the straddle hazard: a float sum landing within an
    * ulp of a 4-decimal boundary hashes differently per run). The oracle
    * spells the identical cents expression. */
  private def cents(c: Column): Column =
    floor(c * 100 + lit(0.5)).cast("long")

  /** 100 TB-proof exact sum for the HIGH-magnitude cents lanes. A
    * LongType sum wraps silently in the FINAL merge buffer once
    * rows × per-row magnitude crosses 2^63: price cents run ~1e7/row
    * (wrap at ~1e12 rows) and revenue products price_c·(100−disc_pct)
    * ~1e9/row (wrap at ~1e10 rows) — both inside the ~6e11-row reach of
    * a 100 TB lineitem. Summing as decimal(38,0) gives 38 digits of
    * headroom (Spark keeps exactness; no overflow below ~1e29 rows);
    * DuckDB's sum(BIGINT) already promotes to HUGEINT so the oracle text
    * is unchanged. Quantity/discount lanes (≤1e4/row, wrap ≥1e15 rows)
    * stay on the faster LongType sum. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,0)"))

  // ===========================================================
  // §2.5 analytics core
  // ===========================================================

  /** TPC-H Q1 shape: scan → filter → grouped agg with partial (map-side)
    * aggregation; at 100 TB this is a single shuffle of ~6 groups. All
    * money sums ride the exact [[cents]] lane: BIGINT sums, one final
    * division — order-free under any partial-agg merge order. disc_price
    * is price_c·(100−disc_pct), exact at 1e4 scale. */
  val q1Agg = Q(
    "q1_agg",
    (s, dir) => {
      val li = Tables(s, dir).lineitem
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          r4(sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
          r4(dsum(cents(col("l_extendedprice"))) / 100.0).as("sum_base_price"),
          r4(dsum(cents(col("l_extendedprice"))
            * (lit(100L) - cents(col("l_discount")))) / 10000.0)
            .as("sum_disc_price"),
          r4(sum(cents(col("l_quantity")))
            / (count(lit(1)) * 100.0)).as("avg_qty"),
          count(lit(1)).as("count_order"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
            round(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty,
            round(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_base_price,
            round(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
              * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) / 10000.0, 4) AS sum_disc_price,
            round(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / (count(*) * 100.0), 4) AS avg_qty,
            count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus"""))

  /** Filter + projection — both must reach the parquet scan (PushedFilters /
    * ReadSchema in explain). */
  val qFilterProject = Q(
    "q_filter_project",
    (s, dir) => {
      Tables(s, dir).lineitem
        .filter(col("l_discount") > 0.05 && col("l_quantity") < 10)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          r4(col("l_extendedprice") * col("l_discount")).as("disc_amount"))
    },
    Some("""SELECT l_orderkey, l_linenumber,
            round(l_extendedprice * l_discount, 4) AS disc_amount
            FROM lineitem WHERE l_discount > 0.05 AND l_quantity < 10"""))

  /** TPC-H Q3 shape: selective dim filter, two joins, agg, top-k. customer
    * is small relative to fact tables → broadcast; top-k via sort+limit
    * (TakeOrderedAndProject — no full sort at scale). */
  val q3Topk = Q(
    "q3_topk",
    (s, dir) => {
      val t = Tables(s, dir)
      val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
      val ord = t.orders.filter(col("o_orderdate") < lit("1995-03-15").cast("date"))
      val li = t.lineitem.filter(col("l_shipdate") > lit("1995-03-15").cast("date"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        // exact cents lane: order-free BIGINT revenue, and the top-k
        // boundary can't hang on a float summation order either
        .agg(r4(dsum(cents(col("l_extendedprice"))
          * (lit(100L) - cents(col("l_discount")))) / 10000.0).as("revenue"))
        .select(
          col("l_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
            round(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
              * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) / 10000.0, 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1995-03-15'
              AND l_shipdate > DATE '1995-03-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  /** Window functions: rank and running sum per user; single shuffle on
    * user_id serves both windows. */
  val qWindow = Q(
    "q_window",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .withColumn("rn", row_number().over(w).cast("long"))
        // exact cents lane (fl4 audit): the cumulative sum is BIGINT —
        // immune to the engines' differing prefix-accumulation orders
        .withColumn("running_value", r4(sum(cents(col("value"))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) / 100.0))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("rn"), col("running_value"))
    },
    Some("""SELECT user_id, event_id, rn, running_value FROM (
              SELECT user_id, event_id,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                round(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 4)
                  AS running_value
              FROM events) WHERE rn <= 3"""))

  /** Distinct users per event type — partial-aggregatable count-distinct. */
  val qDistinct = Q(
    "q_distinct",
    (s, dir) => {
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
    },
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
            count(*) AS n_events FROM events GROUP BY event_type"""))

  /** Semi + anti join (EXISTS / NOT EXISTS): customers with at least one
    * open order but no pending order. Anti/semi joins never explode rows
    * and broadcast the smaller side under AQE. */
  val qSemiAnti = Q(
    "q_semi_anti",
    (s, dir) => {
      val t = Tables(s, dir)
      val c = t.customer
      val o = t.orders
      val open = o.filter(col("o_orderstatus") === "O")
      val pending = o.filter(col("o_orderstatus") === "P")
      c.join(open, c("c_custkey") === open("o_custkey"), "left_semi")
        .join(pending, c("c_custkey") === pending("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    },
    Some("""SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
            GROUP BY c_mktsegment"""))

  /** Statistical aggregates (all partial-aggregatable). Round-11 fl4
    * audit: avg and stddev ride exact integer lanes — Σc and Σc² are
    * BIGINT/DECIMAL(38,0) sums of per-row longs (c ≤ 56021 cents, c² ≤
    * 3.2e9 — the c² sum is decimal so even 1e9-row groups at 100 TB
    * can't wrap), so the merged totals are identical under ANY partial-
    * agg merge order; the only float ops are one division and one sqrt
    * over exact integers, bit-identical on both engines. */
  val qAggStats = Q(
    "q_agg_stats",
    (s, dir) => {
      val c = cents(col("value"))
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(c).as("sc"),
          sum((c * c).cast("decimal(38,0)")).as("sc2"),
          r4(min(col("value"))).as("min_value"),
          r4(max(col("value"))).as("max_value"))
        .select(
          col("event_type"),
          r4(col("sc") / (col("n") * 100.0)).as("avg_value"),
          r4(sqrt((col("n") * col("sc2") - (col("sc").cast("decimal(38,0)")
              * col("sc"))).cast("double")
            / (col("n") * (col("n") - 1))) / 100.0).as("sd_value"),
          col("min_value"), col("max_value"))
    },
    Some("""WITH a AS (
              SELECT event_type, count(*) AS n,
                sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sc,
                sum(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT)
                  * CAST(floor(value * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS sc2,
                round(min(value), 4) AS min_value,
                round(max(value), 4) AS max_value
              FROM events GROUP BY event_type)
            SELECT event_type,
              round(sc / (n * 100.0), 4) AS avg_value,
              round(sqrt(CAST(n * sc2 - CAST(sc AS HUGEINT) * sc AS DOUBLE)
                / (n * (n - 1))) / 100.0, 4) AS sd_value,
              min_value, max_value
            FROM a"""))

  /** Time-window aggregation — the batch-checked shape of the streaming
    * windowed agg (graft.streaming uses the same expression on readStream).
    * Time surfaced as (date, hour) ints to dodge ns/µs parquet mismatch. */
  val qStreamWindow = Q(
    "q_stream_window",
    (s, dir) => {
      Tables(s, dir).events
        .groupBy(
          to_date(col("ts")).as("day"),
          hour(col("ts")).as("hr"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          // exact cents lane (fl4 audit): order-free BIGINT sum
          r4(sum(cents(col("value"))) / 100.0).as("total_value"))
    },
    Some("""SELECT CAST(ts AS DATE) AS day, CAST(hour(ts) AS INT) AS hr, event_type,
            count(*) AS n,
            round(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0, 4) AS total_value
            FROM events GROUP BY 1, 2, 3"""))

  /** Top-k per group: dense top-3 parts by retail price per brand. */
  val qTopkPerGroup = Q(
    "q_topk_per_group",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      Tables(s, dir).part
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("rk"))
    },
    Some("""SELECT p_brand, p_partkey, p_retailprice, rk FROM (
              SELECT p_brand, p_partkey, p_retailprice,
                row_number() OVER (PARTITION BY p_brand
                  ORDER BY p_retailprice DESC, p_partkey) AS rk
              FROM part) WHERE rk <= 3"""))

  /** As-of join (event-time enrichment): for every error event, the most
    * recent prior purchase by the same user. Composed from built-ins — a
    * union tagged by side + one window pass (single shuffle on user_id) —
    * per the custom-operator preference ladder: Spark CAN express this, so
    * no custom SparkPlan is warranted. */
  val qAsofJoin = Q(
    "q_asof_join",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables(s, dir).events
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("is_probe"),
          lit(null).cast("long").as("ref_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("is_probe"),
          col("event_id").as("ref_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("is_probe"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      errors.unionByName(purchases)
        .withColumn("asof_purchase_id", last(col("ref_id"), ignoreNulls = true).over(w))
        .filter(col("is_probe") === 1)
        .select(col("user_id"), col("event_id"), col("asof_purchase_id"))
    },
    Some("""SELECT e.user_id, e.event_id,
              (SELECT p.event_id FROM events p
               WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
                 AND p.ts <= e.ts
               ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS asof_purchase_id
            FROM events e WHERE e.event_type = 'error'"""))

  /** The native as-of join (custom LogicalPlan + Strategy + SparkPlan —
    * `plans.AsOfJoin`): same semantics and oracle as `q_asof_join`, but
    * executed as a streamed one-pass merge over the two key-sorted sides
    * instead of the union+window composition. At scale this shuffles each
    * side once on its own key and never carries probe columns through a
    * window buffer. */
  val qAsofNative = Q(
    "q_asof_native",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val probes = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      val refs = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      graft.plans.AsOf
        .joinBackward(probes, refs, "user_id", "ts", "ts", "event_id")
        .select(col("user_id"), col("event_id"),
          col("event_id_r").as("asof_purchase_id"))
    },
    Some("""SELECT e.user_id, e.event_id,
              (SELECT p.event_id FROM events p
               WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
                 AND p.ts <= e.ts
               ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS asof_purchase_id
            FROM events e WHERE e.event_type = 'error'"""))

  /** Top-k per group via the custom partial-aggregatable TopKByScore
    * aggregate (graft.plans) — map-side heaps shuffle k rows per group per
    * partition instead of every row (same result as the window form,
    * checked against the identical oracle as q_topk_per_group). */
  val qTopkAgg = Q(
    "q_topk_agg",
    (s, dir) => {
      import graft.plans.TopKByScore.topkByScore
      Tables(s, dir).part
        .groupBy(col("p_brand"))
        .agg(topkByScore(col("p_retailprice"), col("p_partkey"), 3).as("top"))
        .select(col("p_brand"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("p_brand"),
          col("t").getField("id").as("p_partkey"),
          col("t").getField("score").as("p_retailprice"),
          (col("pos") + 1).cast("long").as("rk"))
    },
    Some("""SELECT p_brand, p_partkey, p_retailprice, rk FROM (
              SELECT p_brand, p_partkey, p_retailprice,
                row_number() OVER (PARTITION BY p_brand
                  ORDER BY p_retailprice DESC, p_partkey) AS rk
              FROM part) WHERE rk <= 3"""))

  /** Hierarchical aggregation: ROLLUP over (returnflag, linestatus) with
    * grand totals — one pass, no repeated scans. */
  val qRollup = Q(
    "q_rollup",
    (s, dir) => {
      Tables(s, dir).lineitem
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          r4(sum(cents(col("l_quantity"))) / 100.0).as("qty"))
    },
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
              round(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0, 4) AS qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)"""))

  /** CUBE: all grouping-set combinations in one pass — Spark expands to a
    * single Expand + partial agg (one shuffle for all 4 grouping sets; at
    * scale this beats 4 separate scans by 4×). */
  val qCube = Q(
    "q_cube",
    (s, dir) => {
      Tables(s, dir).lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          r4(dsum(cents(col("l_extendedprice"))) / 100.0).as("revenue"))
    },
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
              round(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0, 4) AS revenue
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)"""))

  /** Range (interval) join: each error event matched to the orders a
    * same-keyed customer bucket placed in a 50-day historical window
    * relative to the event date. The join
    * condition is an equi-key (bucket) plus a range predicate — Spark
    * hash-joins on the equi part and filters the range, so the corpus
    * never cross-joins (the equi key is what makes this 100 TB-safe). */
  val qRangeJoin = Q(
    "q_range_join",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("d"))
      val ord = Tables(s, dir).orders
        .select((col("o_custkey") % 50).as("user_id"), col("o_orderkey"),
          col("o_orderdate"))
      ev.join(ord,
          ev("user_id") === ord("user_id") &&
            col("o_orderdate") >= date_sub(col("d"), 10600) &&
            col("o_orderdate") < date_sub(col("d"), 10550))
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_orders"), min(col("o_orderkey")).as("first_order"))
    },
    Some("""SELECT event_id, count(*) AS n_orders, min(o_orderkey) AS first_order
            FROM (SELECT event_id, user_id, CAST(ts AS DATE) AS d
                  FROM events WHERE event_type = 'error') e
            JOIN (SELECT o_custkey % 50 AS user_id, o_orderkey, o_orderdate
                  FROM orders) o
              ON e.user_id = o.user_id
             AND o.o_orderdate >= d - INTERVAL 10600 DAY
             AND o.o_orderdate < d - INTERVAL 10550 DAY
            GROUP BY event_id"""))

  /** RANGE-frame moving aggregate: per-user mean of the last 1h of events
    * at each row — a time-based frame, not a row count (the streaming-
    * adjacent "trailing window" shape). */
  val qMovingAvg = Q(
    "q_moving_avg",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
        .rangeBetween(-3600L, 0L)
      Tables(s, dir).events
        .withColumn("ts_s", unix_seconds(col("ts").cast("timestamp")))
        // exact cents lane (fl4 audit): BIGINT frame sum / frame count —
        // one final division, no float accumulation across the frame
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("avg_1h",
          r4(sum(cents(col("value"))).over(w) / (col("n_1h") * 100.0)))
        .filter(col("event_id") % 20 === 0)
        .select(col("event_id"), col("user_id"), col("avg_1h"), col("n_1h"))
    },
    Some("""SELECT event_id, user_id, avg_1h, n_1h FROM (
              SELECT event_id, user_id,
                round(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w
                  / (count(*) OVER w * 100.0), 4) AS avg_1h,
                count(*) OVER w AS n_1h
              FROM (SELECT event_id, user_id, value,
                      CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
                    FROM events)
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
                           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW))
            WHERE event_id % 20 = 0"""))

  /** EWMA (recursive exponential smoothing) per user over the event
    * stream — see [[graft.ops.Smoothing.ewma]] for the per-key fold shape.
    * Oracle is a recursive CTE walking the same (ts, id) order. Parity
    * note: the decay factor is computed as 1.0 − α IN DOUBLE ARITHMETIC on
    * both engines (a `0.85` literal is one ulp away from `1.0 - 0.15` —
    * enough to flip a 4-decimal rounding after a long fold). */
  val qEwma = Q(
    "q_ewma",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .withColumn("ts_s", unix_seconds(col("ts").cast("timestamp")))
      graft.ops.Smoothing.ewma(ev, "user_id", "ts_s", "event_id", "value", alpha = 0.15)
        .filter(col("event_id") % 20 === 0)
        // fl4, not round(): the raw folds agree bit-for-bit, but engine
        // round() implementations disagree at .00005 boundaries (one sf0.1
        // row flipped in r6); the floor form is the same double ops on
        // both engines
        .select(col("user_id"), col("event_id"), fl4(col("ewma")).as("ewma"))
    },
    Some("""WITH RECURSIVE src AS (
              SELECT user_id, event_id, value::DOUBLE AS x,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                            event_id) AS rn
              FROM events),
            rec AS (
              SELECT user_id, event_id, rn, x AS s FROM src WHERE rn = 1
              UNION ALL
              SELECT src.user_id, src.event_id, src.rn,
                CAST(0.15 AS DOUBLE) * src.x
                  + (CAST(1.0 AS DOUBLE) - CAST(0.15 AS DOUBLE)) * rec.s
              FROM src JOIN rec
                ON src.user_id = rec.user_id AND src.rn = rec.rn + 1)
            SELECT user_id, event_id, floor(s * 10000 + 0.5) / 10000 AS ewma
            FROM rec WHERE event_id % 20 = 0"""))

  /** Two-sided CUSUM control chart per user — see
    * [[graft.ops.Smoothing.cusum]] for the recursion and why μ₀/κ/h are
    * design constants (no data-derived float anywhere). μ₀ = 50 sits at
    * the event-value mean, κ = 2.5 absorbs noise, h = 40 alarms on the
    * heavy-tail spikes; the oracle walks the identical (ts, id) order
    * with identically-associated double arithmetic. */
  val qCusum = Q(
    "q_cusum",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .withColumn("ts_s", unix_seconds(col("ts").cast("timestamp")))
      graft.ops.Smoothing.cusum(ev, "user_id", "ts_s", "event_id", "value",
          mu0 = 50.0, kappa = 2.5, h = 40.0)
        .filter(col("event_id") % 20 === 0)
        .select(col("user_id"), col("event_id"),
          fl4(col("s_pos")).as("s_pos"), fl4(col("s_neg")).as("s_neg"),
          col("alarm"))
    },
    Some("""WITH RECURSIVE src AS (
              SELECT user_id, event_id, value::DOUBLE AS x,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                            event_id) AS rn
              FROM events),
            rec AS (
              SELECT user_id, event_id, rn,
                greatest(0.0::DOUBLE, 0.0::DOUBLE + x - 50.0 - 2.5) AS sp,
                greatest(0.0::DOUBLE, 0.0::DOUBLE + 50.0 - x - 2.5) AS sn
              FROM src WHERE rn = 1
              UNION ALL
              SELECT src.user_id, src.event_id, src.rn,
                greatest(0.0::DOUBLE, rec.sp + src.x - 50.0 - 2.5),
                greatest(0.0::DOUBLE, rec.sn + 50.0 - src.x - 2.5)
              FROM src JOIN rec
                ON src.user_id = rec.user_id AND src.rn = rec.rn + 1)
            SELECT user_id, event_id,
              floor(sp * 10000 + 0.5) / 10000 AS s_pos,
              floor(sn * 10000 + 0.5) / 10000 AS s_neg,
              (sp > 40.0 OR sn > 40.0) AS alarm
            FROM rec WHERE event_id % 20 = 0"""))

  /** Holt double exponential smoothing (level + trend) per user — see
    * [[graft.ops.Smoothing.holt]] for the recursion and the expression-
    * reuse parity argument (b_i references the s_i subtree; both engines
    * evaluate the same IEEE ops twice). α=0.3 tracks, β=0.1 damps; the
    * oracle duplicates the s expression textually inside the b update. */
  val qHolt = Q(
    "q_holt",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .withColumn("ts_s", unix_seconds(col("ts").cast("timestamp")))
      graft.ops.Smoothing.holt(ev, "user_id", "ts_s", "event_id", "value",
          alpha = 0.3, beta = 0.1)
        .filter(col("event_id") % 20 === 0)
        .select(col("user_id"), col("event_id"),
          fl4(col("s_level")).as("s_level"), fl4(col("s_trend")).as("s_trend"))
    },
    Some("""WITH RECURSIVE src AS (
              SELECT user_id, event_id, value::DOUBLE AS x,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                            event_id) AS rn
              FROM events),
            rec AS (
              SELECT user_id, event_id, rn, x AS s, CAST(0.0 AS DOUBLE) AS b
              FROM src WHERE rn = 1
              UNION ALL
              SELECT src.user_id, src.event_id, src.rn,
                CAST(0.3 AS DOUBLE) * src.x
                  + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
                    * (rec.s + rec.b),
                CAST(0.1 AS DOUBLE)
                  * ((CAST(0.3 AS DOUBLE) * src.x
                      + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
                        * (rec.s + rec.b)) - rec.s)
                  + (CAST(1.0 AS DOUBLE) - CAST(0.1 AS DOUBLE)) * rec.b
              FROM src JOIN rec
                ON src.user_id = rec.user_id AND src.rn = rec.rn + 1)
            SELECT user_id, event_id,
              floor(s * 10000 + 0.5) / 10000 AS s_level,
              floor(b * 10000 + 0.5) / 10000 AS s_trend
            FROM rec WHERE event_id % 20 = 0"""))

  /** Holt–Winters additive triple smoothing (level + trend + seasonal,
    * period 4) per user — see [[graft.ops.Smoothing.holtWinters]]. The
    * oracle's recursive CTE carries the seasonal register as a rotating
    * DOUBLE[] queue (cs' = append(cs[2:], c_new), c_{i−p} = cs[1]) which
    * is exactly the fold's circular buffer; validated bitwise against the
    * fold recursion before registration. */
  val qHoltWinters = Q(
    "q_holt_winters",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .withColumn("ts_s", unix_seconds(col("ts").cast("timestamp")))
      graft.ops.Smoothing.holtWinters(ev, "user_id", "ts_s", "event_id",
          "value", alpha = 0.3, beta = 0.1, gamma = 0.2, period = 4)
        .filter(col("event_id") % 20 === 0)
        .select(col("user_id"), col("event_id"),
          fl4(col("s_level")).as("s_level"), fl4(col("s_trend")).as("s_trend"),
          fl4(col("s_season")).as("s_season"))
    },
    Some("""WITH RECURSIVE src AS (
              SELECT user_id, event_id, value::DOUBLE AS x,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                            event_id) AS rn
              FROM events),
            rec AS (
              SELECT user_id, event_id, rn, x AS s, CAST(0.0 AS DOUBLE) AS b,
                [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0] AS cs
              FROM src WHERE rn = 1
              UNION ALL
              SELECT src.user_id, src.event_id, src.rn,
                CAST(0.3 AS DOUBLE) * (src.x - rec.cs[1])
                  + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
                    * (rec.s + rec.b),
                CAST(0.1 AS DOUBLE)
                  * ((CAST(0.3 AS DOUBLE) * (src.x - rec.cs[1])
                      + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
                        * (rec.s + rec.b)) - rec.s)
                  + (CAST(1.0 AS DOUBLE) - CAST(0.1 AS DOUBLE)) * rec.b,
                list_append(rec.cs[2:],
                  CAST(0.2 AS DOUBLE)
                    * (src.x - (CAST(0.3 AS DOUBLE) * (src.x - rec.cs[1])
                        + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE))
                          * (rec.s + rec.b)))
                    + (CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * rec.cs[1])
              FROM src JOIN rec
                ON src.user_id = rec.user_id AND src.rn = rec.rn + 1)
            SELECT user_id, event_id,
              floor(s * 10000 + 0.5) / 10000 AS s_level,
              floor(b * 10000 + 0.5) / 10000 AS s_trend,
              floor(cs[4] * 10000 + 0.5) / 10000 AS s_season
            FROM rec WHERE event_id % 20 = 0"""))

  /** Classical additive seasonal decomposition per user (period 4,
    * centered ±2 moving-average trend, full frames only) — see
    * [[graft.ops.Smoothing.seasonalDecompose]] for the milli-quantized
    * exact-integer formulation; the oracle carries the same integer
    * numerators and performs the identical final divisions, so values
    * match bit for bit before the 4-decimal floor. */
  val qSeasonalDecompose = Q(
    "q_seasonal_decompose",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .withColumn("ts_s", unix_seconds(col("ts").cast("timestamp")))
      graft.ops.Smoothing.seasonalDecompose(ev, "user_id", "ts_s",
          "event_id", "value", period = 4, halfWindow = 2)
        .filter(col("event_id") % 20 === 0)
        .select(col("user_id"), col("event_id"),
          col("phase").cast("long").as("phase"),
          fl4(col("trend")).as("trend"),
          fl4(col("seasonal")).as("seasonal"),
          fl4(col("resid")).as("resid"))
    },
    Some("""SELECT user_id, event_id, CAST(phase AS BIGINT) AS phase,
              floor((CAST(tnum AS DOUBLE) / 5000.0) * 10000 + 0.5) / 10000
                AS trend,
              floor((CAST(snum AS DOUBLE) / (CAST(scnt AS DOUBLE) * 5000.0))
                * 10000 + 0.5) / 10000 AS seasonal,
              floor((CAST(dnum AS DOUBLE) / 5000.0
                     - CAST(snum AS DOUBLE) / (CAST(scnt AS DOUBLE) * 5000.0))
                * 10000 + 0.5) / 10000 AS resid
            FROM (
              SELECT user_id, event_id, phase, tnum, dnum,
                CAST(sum(dnum) OVER (PARTITION BY user_id, phase) AS BIGINT)
                  AS snum,
                count(dnum) OVER (PARTITION BY user_id, phase) AS scnt
              FROM (
                SELECT user_id, event_id,
                  ((row_number() OVER w) - 1) % 4 AS phase,
                  CAST(CASE WHEN count(*) OVER f = 5
                       THEN sum(xq) OVER f END AS BIGINT) AS tnum,
                  xq * 5 - CAST(CASE WHEN count(*) OVER f = 5
                       THEN sum(xq) OVER f END AS BIGINT) AS dnum
                FROM (SELECT user_id, event_id,
                        CAST(floor(value::DOUBLE * 1000 + 0.5) AS BIGINT) AS xq,
                        CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
                      FROM events)
                WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id),
                       f AS (PARTITION BY user_id ORDER BY ts_s, event_id
                             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)))
            WHERE tnum IS NOT NULL AND event_id % 20 = 0"""))

  /** Pivot: event counts per user bucketed by type as columns (expressed
    * with FILTER-style conditional aggregation for engine portability). */
  val qPivot = Q(
    "q_pivot",
    (s, dir) => {
      Tables(s, dir).events
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .pivot("event_type", Seq("click", "view", "purchase", "error", "signup"))
        .agg(count(lit(1)))
    },
    Some("""SELECT user_id % 10 AS user_bucket,
              count(*) FILTER (WHERE event_type = 'click') AS click,
              count(*) FILTER (WHERE event_type = 'view') AS view,
              count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
              count(*) FILTER (WHERE event_type = 'error') AS error,
              count(*) FILTER (WHERE event_type = 'signup') AS signup
            FROM events GROUP BY 1"""))

  /** Set operations: users who clicked but never purchased (EXCEPT), and
    * the overlap count (INTERSECT), in one output. Computed lazily in a
    * single scan of events — per-user boolean flags then a tiny conditional
    * agg — instead of two eager except/intersect passes. */
  val qSetOps = Q(
    "q_set_ops",
    (s, dir) => {
      val ev = Tables(s, dir).events
      ev.filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "click", 1).otherwise(0)).as("clicked"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("bought"))
        .filter(col("clicked") === 1)
        .agg(
          coalesce(sum(when(col("bought") === 1, 1L).otherwise(0L)), lit(0L))
            .as("n_and"),
          coalesce(sum(when(col("bought") === 0, 1L).otherwise(0L)), lit(0L))
            .as("n_no"))
        // unpivot so both cohorts appear even when one count is zero
        .selectExpr("stack(2, 'click_and_purchase', n_and, " +
          "'click_no_purchase', n_no) AS (cohort, n_users)")
    },
    Some("""SELECT 'click_and_purchase' AS cohort, count(*) AS n_users FROM (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
              INTERSECT
              SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
            UNION ALL
            SELECT 'click_no_purchase', count(*) FROM (
              SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
              EXCEPT
              SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')"""))

  /** Sketch aggregates: HLL distinct + approximate quantiles — the
    * bounded-memory path for 100 TB cardinality/percentile questions.
    * The sketches themselves are engine-private (Spark's HLL++ register
    * layout and KLL variant aren't portable), so instead of emitting raw
    * estimates this emits VERDICT rows: each estimate compared against
    * its declared error bound around the EXACT answer, computed in the
    * same aggregation. DuckDB reproduces the exact side identically and
    * predicts every verdict true, making the approximation
    * hash-checkable (the q_hll/q_cms graduation pattern): a sketch
    * regression — wrong merge, wrong register math, wrong rank bound —
    * flips a boolean and breaks the hash. Bounds: HLL++ rsd defaults to
    * 5% → gate at 3σ = 15% relative (+10 absolute slack for tiny
    * groups); percentile_approx(acc=1000) guarantees rank error
    * ≤ n/1000 → gate p50 inside exact [p48, p52], p99 inside
    * [p98, max] — 10–20× the guaranteed headroom, still failing loudly
    * on a broken sketch. */
  val qSketch = Q(
    "q_sketch",
    (s, dir) => {
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id")).as("__hll"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("__p50"),
          percentile_approx(col("value"), lit(0.99), lit(1000)).as("__p99"),
          expr("percentile(value, array(0.48, 0.52, 0.98))").as("__px"),
          max(col("value")).as("__mx"),
          count(lit(1)).as("__n"))
        .select(
          col("event_type"), col("n_exact"),
          (abs(col("__hll") - col("n_exact")) <=
            greatest(col("n_exact") * 0.15, lit(10.0))).as("hll_ok"),
          // tiny-group guard: percentile_approx returns an actual data
          // value while the exact [p48,p52] band is interpolated — for
          // n≈2 the band can exclude every real value (e.g. {1,100}:
          // approx p50=1, band ≈[48.5,49.5]) and the verdict would be
          // legitimately false with a healthy sketch. Below 20 rows the
          // rank-error contract is vacuous anyway, so emit true.
          (col("__n") < 20 ||
            col("__p50").between(col("__px")(0), col("__px")(1))).as("p50_ok"),
          (col("__n") < 20 ||
            col("__p99").between(col("__px")(2), col("__mx"))).as("p99_ok"))
    },
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_exact,
              true AS hll_ok, true AS p50_ok, true AS p99_ok
            FROM events GROUP BY event_type"""))

  /** Portable HyperLogLog distinct-users-per-event-type, ORACLE-CHECKED:
    * unlike `q_sketch`'s engine-private `approx_count_distinct`,
    * [[graft.ops.Hll.hllDistinct]] builds its registers from md5, sums
    * Σ2^(−M_j) as exact scaled BIGINTs (order-free), and divides once —
    * so DuckDB reproduces the ESTIMATE itself digit for digit and the
    * gate hash-compares an approximation algorithm. Exact distinct rides
    * alongside. Per-type distinct users is ~150 at sf0.01 and ~1400 at
    * sf0.1, so the gate exercises BOTH estimator branches: linear
    * counting (E ≤ 2.5m, m·ln(m/V)) at the small SF, raw HLL at the
    * large one. The branch predicate compares the identically-derived
    * raw estimate on both engines, so branch choice can't diverge; the
    * ln inside linear counting is the repo's usual output-position
    * transcendental (fl4-quantized, like q_entropy's ln terms). */
  val qHll = Q(
    "q_hll",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val est = graft.ops.Hll.hllDistinct(
        ev, col("user_id"), Seq(col("event_type")))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          fl4(col("estimate")).as("est"))
    },
    Some("""WITH h AS MATERIALIZED (
              SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
              FROM events),
            br AS MATERIALIZED (
              SELECT event_type,
                ('0x' || substring(h, 1, 2))::BIGINT AS bucket,
                49 - length(ltrim(bin(('0x' || substring(h, 3, 12))::BIGINT),
                                  '0')) AS rho
              FROM h),
            regs AS MATERIALIZED (
              SELECT event_type, bucket, max(rho) AS m_j
              FROM br GROUP BY 1, 2),
            est AS MATERIALIZED (
              SELECT event_type,
                CAST(0.7213 AS DOUBLE)
                  / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256)
                  * 65536 * 562949953421312
                  / (CAST(sum(1::BIGINT << CAST(49 - m_j AS INTEGER))
                          AS BIGINT)
                     + (256 - count(*)) * 562949953421312) AS raw,
                256 - count(*) AS zeros
              FROM regs GROUP BY 1),
            fin AS MATERIALIZED (
              SELECT event_type,
                CASE WHEN raw <= 640.0 AND zeros > 0
                  THEN CAST(256.0 AS DOUBLE)
                       * ln(CAST(256.0 AS DOUBLE) / zeros)
                  ELSE raw END AS estimate
              FROM est)
            SELECT e.event_type, x.n_exact,
              floor(e.estimate * 10000 + 0.5) / 10000 AS est
            FROM fin e JOIN (
              SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
              FROM events GROUP BY 1) x
            ON e.event_type = x.event_type"""))

  /** Count-Min sketch frequency estimates for the corpus' top-20 tokens —
    * see [[graft.ops.Cms]] for the portable-md5 lane hashing and the
    * mergeable groupBy shape. Probe set = top-20 by EXACT count (count
    * desc, token asc — deterministic total order), so the output pins the
    * classic one-sided guarantee: cms_est ≥ exact_cnt for every row, in
    * pure integer arithmetic the oracle reproduces digit for digit. */
  val qCms = Q(
    "q_cms",
    (s, dir) => {
      val toks = Tables(s, dir).documents
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      val sk = graft.ops.Cms.sketch(toks, col("tok"))
      val probes = toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok")).limit(20)
      graft.ops.Cms.estimate(sk, probes, "tok")
        .select(col("tok"), col("exact_cnt"), col("cms_est"))
    },
    Some("""WITH toks AS MATERIALIZED (
              SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents),
            probes AS MATERIALIZED (
              SELECT tok, count(*) AS exact_cnt FROM toks
              GROUP BY tok ORDER BY exact_cnt DESC, tok LIMIT 20),
            hashed AS MATERIALIZED (
              SELECT l.lane,
                ('0x' || substring(md5(l.lane::VARCHAR || ':' || t.tok), 1, 2))::BIGINT AS bucket
              FROM toks t, (SELECT unnest(range(0, 4)) AS lane) l),
            sk AS MATERIALIZED (
              SELECT lane, bucket, count(*) AS cnt
              FROM hashed GROUP BY 1, 2),
            pl AS MATERIALIZED (
              SELECT p.tok, p.exact_cnt, l.lane,
                ('0x' || substring(md5(l.lane::VARCHAR || ':' || p.tok), 1, 2))::BIGINT AS bucket
              FROM probes p, (SELECT unnest(range(0, 4)) AS lane) l)
            SELECT pl.tok, pl.exact_cnt, min(coalesce(s.cnt, 0)) AS cms_est
            FROM pl LEFT JOIN sk s USING (lane, bucket)
            GROUP BY pl.tok, pl.exact_cnt"""))

  /** Bloom-filter membership over a key universe — see [[graft.ops.Bloom]]
    * for the set-bits relation vs packed-literal duality. Members = parts
    * that ever shipped at the max quantity (l_quantity = 50, ~44% of
    * parts at sf0.01); probes = ALL parts, emitted with the bloom verdict
    * AND ground truth, so the gate pins the no-false-negative invariant
    * (bloom_hit is true for every is_member row) and the exact
    * false-positive set the md5 lanes produce. */
  val qBloomJoin = Q(
    "q_bloom_join",
    (s, dir) => {
      val t = Tables(s, dir)
      val members = t.lineitem.filter(col("l_quantity") >= 50)
        .select(col("l_partkey")).distinct()
      val bits = graft.ops.Bloom.bits(members, col("l_partkey"))
      val truth = t.part.select(col("p_partkey"))
        .join(members.withColumn("m", lit(true)),
          col("p_partkey") === col("l_partkey"), "left")
        .select(col("p_partkey"), coalesce(col("m"), lit(false)).as("is_member"))
      graft.ops.Bloom.probe(bits, truth, "p_partkey")
        .select(col("p_partkey"), col("is_member"), col("bloom_hit"))
    },
    Some("""WITH members AS MATERIALIZED (
              SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity >= 50),
            bits AS MATERIALIZED (
              SELECT DISTINCT
                ('0x' || substring(md5(l.lane::VARCHAR || ':' || m.l_partkey::VARCHAR), 1, 4))::BIGINT AS pos
              FROM members m, (SELECT unnest(range(0, 3)) AS lane) l),
            probes AS MATERIALIZED (
              SELECT p.p_partkey,
                EXISTS (SELECT 1 FROM members m WHERE m.l_partkey = p.p_partkey) AS is_member
              FROM part p),
            pl AS MATERIALIZED (
              SELECT pr.p_partkey, pr.is_member,
                ('0x' || substring(md5(l.lane::VARCHAR || ':' || pr.p_partkey::VARCHAR), 1, 4))::BIGINT AS pos
              FROM probes pr, (SELECT unnest(range(0, 3)) AS lane) l)
            SELECT pl.p_partkey, pl.is_member,
              count(b.pos) = 3 AS bloom_hit
            FROM pl LEFT JOIN bits b ON b.pos = pl.pos
            GROUP BY pl.p_partkey, pl.is_member"""))

  /** Salted skewed join: events (user_id skew-safe) × per-user dimension.
    * Result must equal the plain join — the oracle IS the plain join. */
  val qSaltedJoin = Q(
    "q_salted_join",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val dim = Tables(s, dir).events
        .groupBy(col("user_id")).agg(count(lit(1)).as("user_total"))
      graft.ops.SkewOps.saltedJoin(ev, dim, "user_id", salts = 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_total")).as("sum_user_total"))
    },
    Some("""SELECT event_type, count(*) AS n,
              CAST(sum(user_total) AS BIGINT) AS sum_user_total
            FROM events JOIN (
              SELECT user_id, count(*) AS user_total FROM events GROUP BY user_id)
            USING (user_id)
            GROUP BY event_type"""))

  /** ADAPTIVE salted fact-fact join ([[graft.ops.SkewOps
    * .adaptiveSaltedJoin]]): only keys with ≥ 20 events salt/replicate —
    * the tail joins unsalted, so the dimension side grows by
    * |hot|·(salts−1) rows, not |dim|·(salts−1) like the blanket-salt
    * q_salted_join. Salt placement is md5-deterministic (retry-stable);
    * the join is row-equivalent to the plain join, which is exactly what
    * the oracle states. */
  val qAdaptiveSalt = Q(
    "q_adaptive_salt",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val dim = Tables(s, dir).events
        .groupBy(col("user_id")).agg(count(lit(1)).as("user_total"))
      graft.ops.SkewOps.adaptiveSaltedJoin(
          ev, dim, "user_id", col("event_id"), salts = 8, hotMinCount = 20L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("user_total")).as("sum_user_total"))
    },
    Some("""SELECT event_type, count(*) AS n,
              CAST(sum(user_total) AS BIGINT) AS sum_user_total
            FROM events JOIN (
              SELECT user_id, count(*) AS user_total FROM events GROUP BY user_id)
            USING (user_id)
            GROUP BY event_type"""))

  /** GROUPING SETS: the general form ROLLUP/CUBE are shorthands of —
    * three hand-picked grouping sets in ONE pass (a single Expand +
    * partial agg + one shuffle, same plan shape as q_rollup; the naive
    * alternative is one scan per set UNION ALL'd). `g_id` disambiguates
    * which set a row belongs to, exactly as SQL GROUPING() does. */
  val qGroupingSets = Q(
    "q_grouping_sets",
    (s, dir) => {
      Tables(s, dir).lineitem
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
            .cast("long").as("g_id"),
          r4(sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"), col("g_id"),
          col("sum_qty"), col("n"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
              CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS g_id,
              round(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty,
              count(*) AS n
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())"""))

  /** Correlated scalar subquery (TPC-H Q17 shape): small-order parts
    * whose quantity is below 20% of that part's average. Catalyst
    * decorrelates the subquery into an aggregate + join — the plan a
    * hand-rolled self-join would produce, but declared, so the optimizer
    * owns the join strategy (and AQE the build side) at any scale. */
  val qScalarSubquery = Q(
    "q_scalar_subquery",
    (s, dir) => {
      // view names are namespaced so registering them as a side effect of
      // building the query cannot capture other queries' spark.sql lookups
      // (Verify runs builders concurrently against one session)
      val t = Tables(s, dir)
      t.lineitem.createOrReplaceTempView("graft_q17_lineitem")
      t.part.createOrReplaceTempView("graft_q17_part")
      // exact cents lane on the outer revenue sum; the correlated avg
      // threshold is already order-safe (integer-valued quantities, every
      // partial sum exact in double far below 2^53)
      // NB: in Spark SQL text `100.0` is a DECIMAL literal (BIGINT/DECIMAL
      // → DECIMAL(36,6) output, wrong schema); cast the exact sum to
      // DOUBLE first so the result column stays DOUBLE like the oracle's
      s.sql("""SELECT p_brand,
                 count(*) AS n_small,
                 floor(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 100.0 / 7.0 * 10000 + 0.5) / 10000 AS avg_yearly
               FROM graft_q17_lineitem JOIN graft_q17_part ON p_partkey = l_partkey
               WHERE p_size <= 5
                 AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                                   FROM graft_q17_lineitem l2
                                   WHERE l2.l_partkey = p_partkey)
               GROUP BY p_brand""")
    },
    Some("""SELECT p_brand,
              count(*) AS n_small,
              floor(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0
                / 7.0 * 10000 + 0.5) / 10000 AS avg_yearly
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_size <= 5
              AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                                FROM lineitem l2
                                WHERE l2.l_partkey = p_partkey)
            GROUP BY p_brand"""))

  /** EXACT percentiles per group (Spark's sort-based `percentile`, linear
    * interpolation — the same estimator as DuckDB's quantile_cont), the
    * ground-truth companion to q_sketch's bounded-memory approximations:
    * run this where exactness wins, q_sketch where 100 TB cardinality
    * does. */
  val qPercentiles = Q(
    "q_percentiles",
    (s, dir) => {
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(
          fl4(expr("percentile(value, array(0.25D, 0.5D, 0.9D))")(0)).as("p25"),
          fl4(expr("percentile(value, array(0.25D, 0.5D, 0.9D))")(1)).as("p50"),
          fl4(expr("percentile(value, array(0.25D, 0.5D, 0.9D))")(2)).as("p90"),
          count(lit(1)).as("n"))
    },
    Some("""SELECT event_type,
              floor(quantile_cont(value, 0.25) * 10000 + 0.5) / 10000 AS p25,
              floor(quantile_cont(value, 0.50) * 10000 + 0.5) / 10000 AS p50,
              floor(quantile_cont(value, 0.90) * 10000 + 0.5) / 10000 AS p90,
              count(*) AS n
            FROM events GROUP BY event_type"""))

  /** Theil–Sen robust trend per user ([[graft.ops.Robust.theilSen]]):
    * median of all pairwise slopes — the 29%-breakdown alternative to
    * q_regression's OLS. The oracle re-derives the pair relation and
    * the interpolated median. */
  val qTheilSen = Q(
    "q_theil_sen",
    (s, dir) => {
      graft.ops.Robust.theilSen(Tables(s, dir).events,
          "user_id", "ts", "value")
        .select(col("k").as("user_id"), col("n_events"),
          col("n_pairs"), col("slope_hr"))
    },
    Some("""WITH pts AS (
              SELECT user_id AS k, epoch_us(ts) AS t, value::DOUBLE AS v
              FROM events),
            pairs AS (
              SELECT a.k,
                (b.v - a.v) * 3.6e9 / CAST(b.t - a.t AS DOUBLE) AS slope
              FROM pts a JOIN pts b ON a.k = b.k AND a.t < b.t),
            n AS (SELECT k, count(*) AS n_events FROM pts GROUP BY k)
            SELECT p.k AS user_id, n.n_events, count(*) AS n_pairs,
              floor(quantile_cont(slope, 0.5) * 10000 + 0.5) / 10000
                AS slope_hr
            FROM pairs p JOIN n USING (k)
            GROUP BY p.k, n.n_events"""))

  /** Winsorized + trimmed means per event type
    * ([[graft.ops.Robust.winsorized]], 5/95 fences): the heavy-tail
    * location estimates reported alongside the raw mean. */
  val qWinsorized = Q(
    "q_winsorized",
    (s, dir) => {
      graft.ops.Robust.winsorized(Tables(s, dir).events,
          "event_type", "value", pLo = 0.05, pHi = 0.95)
        .select(col("k").as("event_type"), col("n"), col("p_lo"),
          col("p_hi"), col("mean"), col("wins_mean"), col("trim_mean"))
    },
    Some("""WITH f AS (
              SELECT event_type AS k,
                quantile_cont(value::DOUBLE, 0.05) AS lo,
                quantile_cont(value::DOUBLE, 0.95) AS hi
              FROM events GROUP BY event_type)
            SELECT e.event_type, count(*) AS n,
              floor(any_value(f.lo) * 10000 + 0.5) / 10000 AS p_lo,
              floor(any_value(f.hi) * 10000 + 0.5) / 10000 AS p_hi,
              floor(avg(e.value::DOUBLE) * 10000 + 0.5) / 10000 AS mean,
              floor(avg(least(greatest(e.value::DOUBLE, f.lo), f.hi))
                * 10000 + 0.5) / 10000 AS wins_mean,
              floor(avg(CASE WHEN e.value::DOUBLE >= f.lo
                  AND e.value::DOUBLE <= f.hi THEN e.value::DOUBLE END)
                * 10000 + 0.5) / 10000 AS trim_mean
            FROM events e JOIN f ON f.k = e.event_type
            GROUP BY e.event_type"""))

  /** Benford first-digit audit over lineitem amounts (Benford 1938;
    * Nigrini's fraud-screening standard): first significant digit taken
    * from EXACT integer cents (float formatting never touches the
    * digit), observed share vs log10(1+1/d), per-digit Pearson χ²
    * terms. Scan-stage digit extraction, one 9-group aggregate, the
    * total a 1-row broadcast. */
  val qBenford = Q(
    "q_benford",
    (s, dir) => {
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val counts = Tables(s, dir).lineitem
        .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum(col("n")).as("total"))
      val exp9 = lit(1.0) + lit(1.0) / col("digit").cast("double")
      counts.crossJoin(broadcast(tot))
        .withColumn("expected_share", log10(exp9))
        .select(col("digit").cast("long").as("digit"), col("n"),
          fl4(col("n").cast("double") / col("total")).as("share"),
          fl4(col("expected_share")).as("expected"),
          fl4(pow(col("n").cast("double")
              - col("total") * col("expected_share"), 2)
            / (col("total") * col("expected_share"))).as("chi_term"))
    },
    Some("""WITH c AS (
              SELECT CAST(substring(
                  CAST(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INT) AS digit,
                count(*) AS n
              FROM lineitem GROUP BY 1),
            t AS (SELECT sum(n) AS total FROM c)
            SELECT CAST(digit AS BIGINT) AS digit, n,
              floor(n::DOUBLE / total * 10000 + 0.5) / 10000 AS share,
              floor(log10(1.0 + 1.0 / digit::DOUBLE) * 10000 + 0.5) / 10000
                AS expected,
              floor(pow(n::DOUBLE - total * log10(1.0 + 1.0 / digit::DOUBLE), 2)
                / (total * log10(1.0 + 1.0 / digit::DOUBLE))
                * 10000 + 0.5) / 10000 AS chi_term
            FROM c, t"""))

  /** Hill tail-index per event type ([[graft.ops.Robust.hillAlpha]],
    * k=20): heavy-tail exponent from the top-21 order statistics only —
    * a k-bounded TopKByScore heap, never a sorted window over the
    * distribution. The oracle re-ranks with the identical
    * (value DESC, id) tiebreak and mirrors the log-sum. */
  val qHillTail = Q(
    "q_hill_tail",
    (s, dir) => {
      graft.ops.Robust.hillAlpha(Tables(s, dir).events,
          "event_type", "value", "event_id", k = 20)
        .select(col("key").as("event_type"), col("n_pos"),
          col("x_k1"), col("alpha"))
    },
    Some("""WITH pos AS (
              SELECT event_type, value::DOUBLE AS v, event_id
              FROM events WHERE value > 0),
            ranked AS (
              SELECT event_type, v, row_number() OVER
                (PARTITION BY event_type ORDER BY v DESC, event_id) AS rk
              FROM pos),
            np AS (SELECT event_type, count(*) AS n_pos FROM pos
                   GROUP BY event_type),
            tops AS (
              SELECT event_type, list(v ORDER BY rk) AS xs
              FROM ranked WHERE rk <= 21 GROUP BY event_type
              -- degenerate guard mirrors hillAlpha: all-equal top k+1
              -- would divide by zero
              HAVING count(*) = 21 AND max(v) <> min(v))
            SELECT t.event_type, np.n_pos,
              floor(xs[21] * 10000 + 0.5) / 10000 AS x_k1,
              floor(20.0 / list_sum(list_transform(list_slice(xs, 1, 20),
                  x -> ln(x / xs[21])))
                * 10000 + 0.5) / 10000 AS alpha
            FROM tops t JOIN np USING (event_type)"""))

  /** Poisson-bootstrap 95% CI of mean event value per type
    * ([[graft.ops.Robust.bootstrapCi]], B = 32): per-row Poisson(1)
    * replicate weights from the md5₆₀ uniform with fixed inverse-CDF
    * thresholds; exact-integer replicate means; exact percentiles over
    * the 32 means. The oracle replays the identical draw, weights,
    * means and quantiles. */
  val qBootstrapCi = Q(
    "q_bootstrap_ci",
    (s, dir) => {
      graft.ops.Robust.bootstrapCi(Tables(s, dir).events,
          "event_type", "value", "event_id", b = 32, level = 0.95)
        .withColumnRenamed("k", "event_type")
    },
    Some("""WITH r AS (
              SELECT event_type AS k,
                CAST(floor(value::DOUBLE * 100 + 0.5) AS BIGINT) AS cents,
                event_id AS id, b.range AS b
              FROM events, range(32) b),
            u AS (
              SELECT k, cents, b,
                ('0x' || substring(md5('boot:' || k || ':' || id || ':' ||
                  (b // 3)), (b % 3) * 10 + 1, 10))::BIGINT::DOUBLE
                  / 1099511627776.0 AS u
              FROM r),
            w AS (
              SELECT k, b, cents,
                CASE WHEN u < 0.36788 THEN 0 WHEN u < 0.73576 THEN 1
                     WHEN u < 0.91970 THEN 2 WHEN u < 0.98101 THEN 3
                     WHEN u < 0.99634 THEN 4 WHEN u < 0.99941 THEN 5
                     ELSE 6 END AS w
              FROM u),
            reps AS (
              SELECT k, b,
                CAST(sum(w * cents) AS BIGINT)::DOUBLE
                  / CAST(sum(w) AS BIGINT) AS m
              FROM w GROUP BY k, b HAVING sum(w) > 0),
            ml AS (SELECT k, list(m ORDER BY m) AS ms FROM reps GROUP BY k)
            SELECT k AS event_type,
              CAST(len(ms) AS BIGINT) AS n_reps,
              floor((ms[CAST(floor(0.025 * (len(ms) - 1)) AS INT) + 1]
                + (0.025 * (len(ms) - 1)
                   - floor(0.025 * (len(ms) - 1)))
                * (ms[least(CAST(floor(0.025 * (len(ms) - 1)) AS INT) + 2,
                           len(ms))]
                   - ms[CAST(floor(0.025 * (len(ms) - 1)) AS INT) + 1]))
                / 100 * 10000 + 0.5) / 10000 AS ci_lo,
              floor((ms[CAST(floor(0.975 * (len(ms) - 1)) AS INT) + 1]
                + (0.975 * (len(ms) - 1)
                   - floor(0.975 * (len(ms) - 1)))
                * (ms[least(CAST(floor(0.975 * (len(ms) - 1)) AS INT) + 2,
                           len(ms))]
                   - ms[CAST(floor(0.975 * (len(ms) - 1)) AS INT) + 1]))
                / 100 * 10000 + 0.5) / 10000 AS ci_hi
            FROM ml"""))

  /** MAD robust-scale profile per event type
    * ([[graft.ops.Robust.madProfile]]): median, 1.4826-scaled MAD, and
    * the robust-z outlier count (|x − med| > 3·1.4826·MAD) — the
    * 50%-breakdown companion to q_outliers' Tukey fences. The oracle
    * replays both exact medians with quantile_cont and the identical
    * comparison arithmetic. */
  val qMad = Q(
    "q_mad",
    (s, dir) => {
      graft.ops.Robust.madProfile(Tables(s, dir).events,
          "event_type", "value")
        .withColumnRenamed("k", "event_type")
    },
    Some("""WITH v AS (SELECT event_type AS k, value::DOUBLE AS v
                       FROM events),
            med AS (SELECT k, quantile_cont(v, 0.5) AS med
                    FROM v GROUP BY k),
            dev AS (SELECT v.k, abs(v.v - m.med) AS dev, m.med
                    FROM v JOIN med m USING (k)),
            madt AS (SELECT k, count(*) AS n, any_value(med) AS medraw,
                       quantile_cont(dev, 0.5) AS madraw
                     FROM dev GROUP BY k),
            outl AS (SELECT d.k,
                       CAST(sum(CASE WHEN d.dev > t.madraw * 1.4826 * 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
                     FROM dev d JOIN madt t USING (k) GROUP BY d.k)
            SELECT t.k AS event_type, t.n,
              floor(t.medraw * 10000 + 0.5) / 10000 AS median,
              floor(t.madraw * 1.4826 * 10000 + 0.5) / 10000 AS mad_sigma,
              o.n_outliers
            FROM madt t JOIN outl o USING (k)"""))

  /** ABC / Pareto analysis of customer revenue per nation: rank by
    * revenue within nation, cumulative share classes A (≤80%),
    * B (≤95%), C — the classic concentration report. ALL sums run in
    * EXACT integer cents (class membership must not hang on float
    * summation order); the one division per output row happens after
    * the exact arithmetic. The cumulative rides a NATION-keyed window
    * in pinned (revenue DESC, custkey) order. */
  val qParetoAbc = Q(
    "q_pareto_abc",
    (s, dir) => {
      val t = Tables(s, dir)
      val rev = t.orders.groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("rev_c"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nation"), col("o_custkey"),
          col("rev_c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("nation"))
        .orderBy(col("rev_c").desc, col("o_custkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("nation"))
      val classed = rev
        .withColumn("cum", sum(col("rev_c")).over(w))
        .withColumn("tot", max(col("cum")).over(wAll))
        // 100·cum ≤ 80·tot etc: exact BIGINT class boundaries
        .withColumn("cls",
          when(col("cum") * 100 <= col("tot") * 80, "A")
            .when(col("cum") * 100 <= col("tot") * 95, "B")
            .otherwise("C"))
      classed.groupBy(col("nation"), col("cls"))
        .agg(count(lit(1)).as("n_cust"),
          fl4(sum(col("rev_c")).cast("double") / first(col("tot")))
            .as("share"))
    },
    Some("""WITH rev AS (
              SELECT cu.c_nationkey AS nation, o.o_custkey,
                sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS rev_c
              FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
              GROUP BY 1, 2),
            cum AS (
              SELECT nation, o_custkey, rev_c,
                sum(rev_c) OVER (PARTITION BY nation
                  ORDER BY rev_c DESC, o_custkey
                  ROWS UNBOUNDED PRECEDING) AS cum
              FROM rev),
            cum2 AS (
              SELECT *, max(cum) OVER (PARTITION BY nation) AS tot
              FROM cum),
            classed AS (
              SELECT nation, rev_c, tot,
                CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                     WHEN cum * 100 <= tot * 95 THEN 'B'
                     ELSE 'C' END AS cls
              FROM cum2)
            SELECT nation, cls, count(*) AS n_cust,
              floor(CAST(sum(rev_c) AS DOUBLE) / any_value(tot)
                * 10000 + 0.5) / 10000 AS share
            FROM classed GROUP BY nation, cls"""))

  /** Spearman rank correlation per event type between value and arrival
    * order: Pearson's corr over AVERAGE ranks (the standard tie
    * treatment — tied values share the mean of their row numbers), all
    * ranks from keyed windows with pinned tiebreaks, so both engines
    * rank identically; the monotonic-trend detector that q_corr_cov's
    * raw Pearson is not. */
  val qSpearman = Q(
    "q_spearman",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events.select(
        col("event_type").as("k"), unix_micros(col("ts")).as("t"),
        col("event_id"), col("value").cast("double").as("v"))
      val rnV = row_number().over(
        W.partitionBy(col("k")).orderBy(col("v"), col("t"), col("event_id")))
      val rnT = row_number().over(
        W.partitionBy(col("k")).orderBy(col("t"), col("event_id")))
      // Round-11 fl4 audit: tie-averaged ranks (a+b)/2 and the Pearson
      // merge are the two float-order hazards here. Both go exact: within
      // a tie group row_numbers are CONSECUTIVE integers, so 2·avg(rank)
      // = min+max (exact BIGINT, column "x"); corr is scale-invariant per
      // variable, so corr(rv, rt) = corr(x, rt) computed from exact
      // moment sums (products in LONG, sums in DECIMAL(38,0) — no group
      // size wraps them). Only the final divisions/sqrt touch doubles.
      val ranked = e.withColumn("rn_v", rnV).withColumn("rt", rnT)
        .withColumn("x",
          min(col("rn_v")).over(W.partitionBy(col("k"), col("v")))
            + max(col("rn_v")).over(W.partitionBy(col("k"), col("v"))))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val x = col("x").cast("long"); val y = col("rt").cast("long")
      ranked.groupBy(col("k").as("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(dec(x * x)).as("sx2"), sum(dec(y * y)).as("sy2"),
          sum(dec(x * y)).as("sxy"))
        .select(col("event_type"), col("n"),
          fl4((col("n") * col("sxy") - dec(col("sx")) * col("sy")).cast("double")
            / (sqrt((col("n") * col("sx2") - dec(col("sx")) * col("sx")).cast("double"))
              * sqrt((col("n") * col("sy2") - dec(col("sy")) * col("sy")).cast("double"))))
            .as("spearman_rho"))
    },
    Some("""WITH e AS (
              SELECT event_type AS k, epoch_us(ts) AS t, event_id,
                value::DOUBLE AS v
              FROM events),
            ranked AS (
              SELECT k, v,
                row_number() OVER (PARTITION BY k
                  ORDER BY v, t, event_id) AS rn_v,
                row_number() OVER (PARTITION BY k
                  ORDER BY t, event_id) AS rt
              FROM e),
            avgr AS (
              SELECT k, CAST(rt AS BIGINT) AS y,
                CAST(min(rn_v) OVER (PARTITION BY k, v)
                  + max(rn_v) OVER (PARTITION BY k, v) AS BIGINT) AS x
              FROM ranked),
            a AS (
              SELECT k, count(*) AS n,
                sum(x) AS sx, sum(y) AS sy,
                sum(CAST(x * x AS HUGEINT)) AS sx2,
                sum(CAST(y * y AS HUGEINT)) AS sy2,
                sum(CAST(x * y AS HUGEINT)) AS sxy
              FROM avgr GROUP BY k)
            SELECT k AS event_type, n,
              floor(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                / (sqrt(CAST(n * sx2 - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                  * sqrt(CAST(n * sy2 - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
                * 10000 + 0.5) / 10000 AS spearman_rho
            FROM a"""))

  /** Wald SPRT per user (Wald 1945): is this user's purchase rate 0.4
    * (H1) or 0.2 (H0)? Per-event integer MILLI-BAN log-likelihood
    * increments (design constants, the Linkage/CUSUM precedent:
    * +693 purchase, −288 otherwise), cumulative on a user-keyed
    * pinned-order window, decision at the FIRST crossing of
    * ±ln(19)·1000 ≈ ±2944 — exact BIGINT accumulation end to end, so
    * stopping times are engine-reproducible. */
  val qSprt = Q(
    "q_sprt",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events.select(
        col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"),
        when(col("event_type") === "purchase", 693L).otherwise(-288L)
          .as("w"))
      val wOrd = W.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val cum = e
        .withColumn("n", row_number().over(
          W.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))))
        .withColumn("llr", sum(col("w")).over(wOrd))
      cum.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(when(col("llr") >= 2944 || col("llr") <= -2944,
            struct(col("n").as("n"), col("llr").as("l")))).as("stop"),
          max(struct(col("n").as("n"), col("llr").as("l"))).as("last"))
        .select(col("user_id"), col("n_events"),
          when(col("stop").isNull, "continue")
            .when(col("stop").getField("l") >= 2944, "accept_h1")
            .otherwise("accept_h0").as("decision"),
          coalesce(col("stop").getField("n"), col("n_events"))
            .cast("long").as("n_stop"),
          coalesce(col("stop").getField("l"), col("last").getField("l"))
            .as("llr_mb"))
    },
    Some("""WITH e AS (
              SELECT user_id, epoch_us(ts) AS t, event_id,
                CASE WHEN event_type = 'purchase' THEN 693 ELSE -288 END
                  AS w
              FROM events),
            cum AS (
              SELECT user_id,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY t, event_id) AS n,
                sum(w) OVER (PARTITION BY user_id ORDER BY t, event_id
                  ROWS UNBOUNDED PRECEDING) AS llr
              FROM e),
            agg AS (
              SELECT user_id, count(*) AS n_events,
                min(CASE WHEN llr >= 2944 OR llr <= -2944
                  THEN struct_pack(n := n, l := llr) END) AS stop,
                max(struct_pack(n := n, l := llr)) AS last
              FROM cum GROUP BY user_id)
            SELECT user_id, n_events,
              CASE WHEN stop IS NULL THEN 'continue'
                   WHEN (stop).l >= 2944 THEN 'accept_h1'
                   ELSE 'accept_h0' END AS decision,
              CAST(coalesce((stop).n, n_events) AS BIGINT) AS n_stop,
              CAST(coalesce((stop).l, (last).l) AS BIGINT) AS llr_mb
            FROM agg"""))

  /** Consistent-hash ring assignment (Karger et al. 1997) with 16
    * virtual nodes per shard: doc → the ring point at minimal CLOCKWISE
    * distance pmod(pos − h, 2⁶⁰) — one argmin folds successor lookup
    * AND wrap-around, no union of a fallback branch. Ring and doc
    * hashes both ride the portable md5₆₀ lane. At scale the 128-row
    * ring is a broadcast and the argmin runs map-side — the corpus
    * never shuffles; the query reports the balance profile vnodes
    * exist to flatten. */
  val qHashRing = Q(
    "q_hash_ring",
    (s, dir) => {
      val spark = s
      val ring = spark.range(8).select(col("id").as("shard"))
        .crossJoin(spark.range(16).select(col("id").as("vn")))
        .select(col("shard"), conv(substring(md5(concat_ws(":",
          lit("ring"), col("shard"), col("vn"))), 1, 15), 16, 10)
          .cast("long").as("pos"))
      val docs = Tables(s, dir).documents.select(col("doc_id"),
        conv(substring(md5(concat(lit("doc:"), col("doc_id"))), 1, 15),
          16, 10).cast("long").as("h"))
      val P = 1152921504606846976L // 2^60
      // ring folds to ONE broadcast row of 128 structs; the assignment
      // argmin is then a scan-stage fold per doc — no 128× row blowup,
      // no per-doc groupBy (1.26 s → 0.68 s). Lexicographic (d, p, s)
      // min is order-independent, so collect_list order is immaterial.
      val ringArr = ring
        .agg(collect_list(struct(col("pos"), col("shard"))).as("ring"))
      val assigned = docs.crossJoin(broadcast(ringArr))
        .withColumn("w", aggregate(col("ring"),
          struct(lit(Long.MaxValue).as("d"), lit(Long.MaxValue).as("p"),
            lit(-1L).as("s")),
          (acc, r) => {
            val d = pmod(r.getField("pos") - col("h"), lit(P))
            val p = r.getField("pos")
            val sh = r.getField("shard")
            when(d < acc.getField("d")
                || (d === acc.getField("d") && (p < acc.getField("p")
                || (p === acc.getField("p") && sh < acc.getField("s")))),
              struct(d.as("d"), p.as("p"), sh.as("s"))).otherwise(acc)
          }))
        .select(col("doc_id"), col("w").getField("s").as("shard"))
      val counts = assigned.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("n"))
      counts.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"),
          fl4(col("n_docs").cast("double") / col("n")).as("share"))
    },
    Some("""WITH ring AS (
              SELECT s.range AS shard, v.range AS vn,
                ('0x' || substring(md5('ring:' || s.range || ':' ||
                  v.range), 1, 15))::BIGINT AS pos
              FROM range(8) s, range(16) v),
            docs AS (
              SELECT doc_id,
                ('0x' || substring(md5('doc:' || doc_id), 1, 15))::BIGINT
                  AS h
              FROM documents),
            assigned AS (
              SELECT doc_id,
                (min(struct_pack(
                  d := ((pos - h) % 1152921504606846976
                        + 1152921504606846976) % 1152921504606846976,
                  p := pos, s := shard))).s AS shard
              FROM docs, ring GROUP BY doc_id),
            tot AS (SELECT count(*) AS n FROM assigned)
            SELECT shard, count(*) AS n_docs,
              floor(count(*)::DOUBLE / any_value(t.n) * 10000 + 0.5)
                / 10000 AS share
            FROM assigned, tot t GROUP BY shard"""))

  /** Rendezvous / HRW sharding ([[graft.ops.Rendezvous.hrwShard]]) —
    * the ring's vnode-free sibling: per-shard balance by construction,
    * and the MINIMAL-DISRUPTION property is checked EXACTLY — the query
    * assigns every doc under 8 shards AND under 7 (shard 7 removed);
    * only shard 7's docs may move (`n_moved` must be 0 elsewhere and
    * n_docs on shard 7), which the oracle re-derives relationally.
    * Zero shuffle for assignment: a `greatest` over 8 scan-stage
    * structs, no ring table, no broadcast. */
  val qHrwShard = Q(
    "q_hrw_shard",
    (s, dir) => {
      import graft.ops.Rendezvous
      val assigned = Tables(s, dir).documents.select(col("doc_id"),
        Rendezvous.hrwShard(col("doc_id"), 0 until 8).as("shard"),
        Rendezvous.hrwShard(col("doc_id"), 0 until 7).as("shard_after_drop"))
      val counts = assigned.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("shard") =!= col("shard_after_drop"), 1L)
            .otherwise(0L)).as("n_moved"))
      val tot = counts.agg(sum(col("n_docs")).as("n"))
      counts.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_moved"),
          fl4(col("n_docs").cast("double") / col("n")).as("share"))
    },
    Some("""WITH w AS (
              SELECT doc_id, s.range AS shard,
                ('0x' || substring(md5('hrw:' || doc_id || ':' || s.range),
                  1, 15))::BIGINT AS h
              FROM documents, range(8) s),
            a8 AS (
              SELECT doc_id,
                (max(struct_pack(h := h, s := shard))).s AS shard
              FROM w GROUP BY doc_id),
            a7 AS (
              SELECT doc_id,
                (max(struct_pack(h := h, s := shard))).s AS shard_after_drop
              FROM w WHERE shard < 7 GROUP BY doc_id),
            counts AS (
              SELECT a8.shard, count(*) AS n_docs,
                CAST(sum(CASE WHEN a8.shard <> a7.shard_after_drop
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
              FROM a8 JOIN a7 USING (doc_id) GROUP BY a8.shard),
            tot AS (SELECT sum(n_docs) AS n FROM counts)
            SELECT shard, n_docs, n_moved,
              floor(n_docs::DOUBLE / t.n * 10000 + 0.5) / 10000 AS share
            FROM counts, tot t"""))

  /** Kolmogorov–Smirnov two-sample statistic per event type between the
    * even- and odd-user cohorts: D = max |F̂_a − F̂_b| evaluated at the
    * DISTINCT-value grid (the correct tie handling — the ECDF gap is
    * read after all rows of a value), cumulative counts exact BIGINT on
    * a type-keyed value-ordered window, one division per grid point.
    * The distribution-shape companion to q_ab_test's mean-only Welch
    * t. */
  val qKsTest = Q(
    "q_ks_test",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events.select(
        col("event_type").as("k"), col("value").cast("double").as("v"),
        (col("user_id") % 2).as("side"))
      val grid = e.groupBy(col("k"), col("v")).agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
      val wCum = W.partitionBy(col("k")).orderBy(col("v"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wAll = W.partitionBy(col("k"))
      grid
        .withColumn("cuma", sum(col("ca")).over(wCum))
        .withColumn("cumb", sum(col("cb")).over(wCum))
        .withColumn("na", sum(col("ca")).over(wAll))
        .withColumn("nb", sum(col("cb")).over(wAll))
        .groupBy(col("k").as("event_type"))
        .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
          fl4(max(abs(col("cuma").cast("double") / col("na")
            - col("cumb").cast("double") / col("nb")))).as("ks_d"))
    },
    Some("""WITH e AS (
              SELECT event_type AS k, value::DOUBLE AS v,
                user_id % 2 AS side
              FROM events),
            grid AS (
              SELECT k, v,
                sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
                sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
              FROM e GROUP BY k, v),
            cum AS (
              SELECT k, v,
                sum(ca) OVER (PARTITION BY k ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS cuma,
                sum(cb) OVER (PARTITION BY k ORDER BY v
                  ROWS UNBOUNDED PRECEDING) AS cumb,
                sum(ca) OVER (PARTITION BY k) AS na,
                sum(cb) OVER (PARTITION BY k) AS nb
              FROM grid)
            SELECT k AS event_type,
              CAST(any_value(na) AS BIGINT) AS n_a,
              CAST(any_value(nb) AS BIGINT) AS n_b,
              floor(max(abs(cuma::DOUBLE / na - cumb::DOUBLE / nb))
                * 10000 + 0.5) / 10000 AS ks_d
            FROM cum GROUP BY k"""))

  /** Late-event audit — the batch mirror of a streaming watermark:
    * arrival order = event_id (the generator's ingest order),
    * per-user high-watermark = running max event time in that order,
    * lateness = watermark − own event time. Events more than 10 min
    * late would be DROPPED by a 10-min watermark — this query measures
    * that loss before anyone picks the delay. Exact µs integers on
    * user-keyed windows. */
  val qLateEvents = Q(
    "q_late_events",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events.select(col("user_id"),
        col("event_id"), unix_micros(col("ts")).as("t"))
      val wm = max(col("t")).over(
        W.partitionBy(col("user_id")).orderBy(col("event_id"))
          .rowsBetween(W.unboundedPreceding, W.currentRow))
      e.withColumn("late_us", wm - col("t"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("late_us") > 600000000L, 1L).otherwise(0L))
            .as("n_dropped_10m"),
          floor(max(col("late_us")) / 1000000L).cast("long")
            .as("max_late_s"))
    },
    Some("""WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
            wm AS (
              SELECT user_id,
                max(t) OVER (PARTITION BY user_id ORDER BY event_id
                  ROWS UNBOUNDED PRECEDING) - t AS late_us
              FROM e)
            SELECT user_id, count(*) AS n_events,
              CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped_10m,
              CAST(floor(max(late_us) / 1000000) AS BIGINT) AS max_late_s
            FROM wm GROUP BY user_id"""))

  /** Kaplan–Meier survival curves (product-limit estimator, JASA 1958)
    * per user cohort: lifetime = days between a user's first and last
    * event (HOUR granularity — the corpus spans ~30 days of uniform
    * activity); users whose last event falls in the global final 12
    * hours are CENSORED (still alive — they leave the risk set without
    * a churn event, the estimator's whole point). S(t) accumulates as
    * exp(Σ ln(1−d/n)) over the ordered churn-time grid — the running
    * product as an ordered-window sum, identical FP sequence on both
    * engines; risk counts are exact BIGINT. */
  val qKaplanMeier = Q(
    "q_kaplan_meier",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events.select(col("user_id"),
        unix_micros(col("ts")).as("t"))
      val horizon = e.agg(max(col("t")).as("tmax"))
      val users = e.groupBy(col("user_id"))
        .agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
        .crossJoin(broadcast(horizon))
        .select((col("user_id") % 4).as("cohort"),
          floor((col("t1") - col("t0")) / 3600000000L).cast("long")
            .as("life_h"),
          (col("t1") < col("tmax") - 12L * 3600000000L).as("churned"))
      val grid = users.groupBy(col("cohort"), col("life_h"))
        .agg(sum(when(col("churned"), 1L).otherwise(0L)).as("d"),
          count(lit(1)).as("ends"))
      val wCum = W.partitionBy(col("cohort")).orderBy(col("life_h"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wAll = W.partitionBy(col("cohort"))
      grid
        .withColumn("total", sum(col("ends")).over(wAll))
        .withColumn("n_risk",
          col("total") - sum(col("ends")).over(wCum) + col("ends"))
        .withColumn("s", exp(sum(
          log(lit(1.0) - col("d").cast("double") / col("n_risk")))
          .over(wCum)))
        .filter(col("d") > 0)
        .select(col("cohort"), col("life_h"), col("n_risk"), col("d"),
          fl4(col("s")).as("survival"))
    },
    Some("""WITH e AS (
              SELECT user_id, epoch_us(ts) AS t FROM events),
            hz AS (SELECT max(t) AS tmax FROM e),
            users AS (
              SELECT user_id % 4 AS cohort,
                CAST(floor((max(t) - min(t)) / 3600000000) AS BIGINT)
                  AS life_h,
                max(t) < (SELECT tmax FROM hz) - 12 * 3600000000
                  AS churned
              FROM e GROUP BY user_id),
            grid AS (
              SELECT cohort, life_h,
                sum(CASE WHEN churned THEN 1 ELSE 0 END) AS d,
                count(*) AS ends
              FROM users GROUP BY cohort, life_h),
            cum AS (
              SELECT cohort, life_h, d, ends,
                sum(ends) OVER (PARTITION BY cohort) AS total,
                sum(ends) OVER (PARTITION BY cohort ORDER BY life_h
                  ROWS UNBOUNDED PRECEDING) AS cume
              FROM grid),
            km AS (
              SELECT cohort, life_h, d,
                total - cume + ends AS n_risk,
                exp(sum(ln(1.0 - d::DOUBLE / (total - cume + ends)))
                  OVER (PARTITION BY cohort ORDER BY life_h
                    ROWS UNBOUNDED PRECEDING)) AS s
              FROM cum)
            SELECT cohort, life_h, CAST(n_risk AS BIGINT) AS n_risk,
              CAST(d AS BIGINT) AS d,
              floor(s * 10000 + 0.5) / 10000 AS survival
            FROM km WHERE d > 0"""))

  /** Grouped ROC-AUC via the Mann–Whitney rank-sum identity (Wilcoxon
    * 1945; Hanley & McNeil 1982: AUC = U/(n₊·n₋)) — the
    * classifier-evaluation primitive every quality-filter training loop
    * needs (fastText-style quality scorers, the q_logreg_step output):
    * per cohort, how well does `value` rank purchase events above the
    * rest? Exact tie handling by AVERAGE ranks carried as the
    * integer 2·avg_rank = 2·rank + ties − 1 (min-rank + max-rank), so
    * every lane is a BIGINT until the single final division:
    * AUC = (Σ₊ 2r̄ − n₊(n₊+1)) / (2·n₊·n₋). Tie groups are
    * exact-float-equality classes, so any engine reproduces the same
    * partition however its sort breaks ties WITHIN a class (2r̄ is
    * constant across a tie class by construction).
    *
    * Scale shape: ONE rank window per cohort (partitionBy cohort,
    * orderBy score — Spark sorts within the cohort's partitions, no
    * global single-partition sort), tie counts share the same exchange
    * (partitionBy cohort+score), then a per-cohort partial agg.
    * Per-group Σ2r̄ < 2n² keeps BIGINT exact to ~2×10⁹ rows per cohort. */
  val qAuc = Q(
    "q_auc",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val e = Tables(s, dir).events.select(
        (col("user_id") % 4).as("cohort"),
        col("value").as("score"),
        (col("event_type") === "purchase").as("pos"))
      val wRank = W.partitionBy(col("cohort")).orderBy(col("score"))
      val wTie = W.partitionBy(col("cohort"), col("score"))
      e.withColumn("r2",
          lit(2) * rank().over(wRank) + count(lit(1)).over(wTie) - 1)
        .groupBy(col("cohort"))
        .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(!col("pos"), 1L).otherwise(0L)).as("n_neg"),
          sum(when(col("pos"), col("r2")).otherwise(0L)).as("r2_pos"))
        .select(col("cohort"), col("n_pos"), col("n_neg"),
          // AUC is undefined for a single-class cohort (n₊=0 or n₋=0):
          // emit NULL rather than NaN/Inf so every engine agrees
          // (oracle mirrors with NULLIF on the denominator).
          when(col("n_pos") > 0 && col("n_neg") > 0,
            fl4((col("r2_pos") - col("n_pos") * (col("n_pos") + 1))
              .cast("double")
              / (lit(2L) * col("n_pos") * col("n_neg")).cast("double")))
            .as("auc"))
    },
    Some("""WITH e AS (
              SELECT user_id % 4 AS cohort, value AS score,
                     event_type = 'purchase' AS pos
              FROM events),
            r AS (
              SELECT cohort, pos,
                2 * rank() OVER (PARTITION BY cohort ORDER BY score)
                  + count(*) OVER (PARTITION BY cohort, score) - 1 AS r2
              FROM e),
            agg AS (
              SELECT cohort,
                sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n_pos,
                sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS n_neg,
                sum(CASE WHEN pos THEN r2 ELSE 0 END) AS r2_pos
              FROM r GROUP BY cohort)
            SELECT cohort, CAST(n_pos AS BIGINT) AS n_pos,
              CAST(n_neg AS BIGINT) AS n_neg,
              floor((r2_pos - n_pos * (n_pos + 1))::DOUBLE
                / NULLIF((2 * n_pos * n_neg)::DOUBLE, 0) * 10000 + 0.5)
                / 10000 AS auc
            FROM agg"""))

  /** Gini concentration coefficient of customer revenue per nation
    * (Gini 1912, in Sen's rank-weighted form: G = (2·Σ i·xᵢ −
    * (n+1)·Σx) / (n·Σx) over values sorted ascending) — the
    * market-concentration / contributor-inequality profile next to the
    * ABC classes of q_pareto_abc (ABC buckets name the heavy tier,
    * Gini prices the whole curve in one number). Revenue rides the
    * cents lane (per-ORDER floor(o_totalprice·100 + ½) BIGINT, summed
    * per customer) so sums are merge-order exact; the rank-weighted sum
    * accumulates as decimal(38,0) (i·x reaches ~10¹⁹ near 10⁶ customers
    * per group — past BIGINT, inside the playbook's high-magnitude
    * lane). Tie-safe by construction: within a tie class x is constant,
    * so Σ i·x is invariant to how the sort permutes equal values.
    *
    * Scale shape: one cents partial agg per customer, one rank window
    * per nation (no global sort), one per-nation partial agg. */
  val qGini = Q(
    "q_gini",
    (s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val custRev = t.orders
        .select(col("o_custkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("cents"))
        .groupBy(col("o_custkey")).agg(sum(col("cents")).as("x"))
      val byNation = custRev
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("o_custkey"), col("x"))
      val w = W.partitionBy(col("nation"))
        .orderBy(col("x"), col("o_custkey"))
      byNation
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy(col("nation"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("x")).as("sx"),
          // Cast an operand BEFORE multiplying (mirrors the oracle's
          // i::HUGEINT * x::HUGEINT): i·x reaches ~10¹⁹ per the doc
          // comment, past BIGINT — a long multiply would silently wrap.
          sum(col("i").cast("decimal(38,0)") * col("x").cast("decimal(38,0)"))
            .as("six"))
        .select(col("nation"), col("n_customers"),
          fl4((lit(2).cast("decimal(38,0)") * col("six")
              - (col("n_customers") + 1).cast("decimal(38,0)")
                * col("sx").cast("decimal(38,0)"))
            .cast("double")
            / (col("n_customers").cast("decimal(38,0)")
                * col("sx").cast("decimal(38,0)")).cast("double"))
            .as("gini"))
    },
    Some("""WITH cust_rev AS (
              SELECT o_custkey,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x
              FROM orders GROUP BY o_custkey),
            by_nation AS (
              SELECT n.n_name AS nation, r.o_custkey, r.x
              FROM cust_rev r
              JOIN customer c ON r.o_custkey = c.c_custkey
              JOIN nation n ON c.c_nationkey = n.n_nationkey),
            ranked AS (
              SELECT nation, x,
                row_number() OVER (PARTITION BY nation
                  ORDER BY x, o_custkey) AS i
              FROM by_nation),
            agg AS (
              SELECT nation, count(*) AS n_customers, sum(x) AS sx,
                sum(i::HUGEINT * x::HUGEINT) AS six
              FROM ranked GROUP BY nation)
            SELECT nation, CAST(n_customers AS BIGINT) AS n_customers,
              floor((2 * six - (n_customers + 1) * sx::HUGEINT)::DOUBLE
                / (n_customers::HUGEINT * sx::HUGEINT)::DOUBLE
                * 10000 + 0.5) / 10000 AS gini
            FROM agg"""))

  /** Good–Turing frequency-of-frequencies profile (Good 1953; the
    * smoothing behind Katz backoff): N_r = vocabulary types seen
    * exactly r times, adjusted count r* = (r+1)·N_{r+1}/N_r, and the
    * Turing unseen-mass estimate P₀ = N₁/N — the "how much corpus have
    * I NOT seen" number a crawl-coverage decision needs. Counted over
    * TRIGRAM types (the unigram vocabulary of the synthetic corpus has
    * no rare words; trigram space does — and n-gram FoF is the form
    * Katz backoff actually consumes). Two n-gram-type-bounded
    * aggregates + a 1-row broadcast total. */
  val qGoodTuring = Q(
    "q_good_turing",
    (s, dir) => {
      // array/flatten let-binding: the regex split must not be inlined
      // into every gram's slice (the CDC-chunking lesson). The 2^20-char
      // cap bounds the per-row transient gram array (the per-doc skew
      // unit) — identity for this corpus, mirrored in the oracle
      val grams = flatten(transform(
        array(split(trim(substring(col("text"), 1, 1 << 20)), "\\s+")),
        ts => when(size(ts) >= 3,
            transform(sequence(lit(1), size(ts) - 2),
              i => concat_ws(" ", slice(ts, i, lit(3)))))
          .otherwise(array().cast("array<string>"))))
      val toks = Tables(s, dir).documents
        .select(explode(grams).as("term"))
        .filter(length(col("term")) > 0)
      val tc = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
      val ff = tc.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
      val tot = tc.agg(sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"))
      val nxt = ff.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
      ff.filter(col("r") <= 10)
        .join(nxt, Seq("r"), "left")
        .crossJoin(broadcast(tot))
        .select(col("r"), col("n_r"),
          fl4((col("r") + 1).cast("double")
            * coalesce(col("n_r1"), lit(0L)) / col("n_r")).as("r_star"),
          fl4(col("n1").cast("double") / col("n_tokens")).as("p0"))
    },
    Some("""WITH toks AS (
              SELECT string_split_regex(trim(substring(text, 1, 1048576)),
                '\s+') AS t
              FROM documents),
            tc AS (
              SELECT term, count(*) AS c FROM (
                SELECT unnest(list_transform(
                  range(1, greatest(len(t) - 2, 0) + 1),
                  i -> array_to_string(list_slice(t, i, i + 2), ' ')))
                  AS term
                FROM toks)
              WHERE length(term) > 0 GROUP BY term),
            ff AS (SELECT c AS r, count(*) AS n_r FROM tc GROUP BY c),
            tot AS (SELECT sum(c) AS n_tokens,
              sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n1 FROM tc)
            SELECT f.r, f.n_r,
              floor((f.r + 1)::DOUBLE * coalesce(nx.n_r, 0) / f.n_r
                * 10000 + 0.5) / 10000 AS r_star,
              floor(t.n1::DOUBLE / t.n_tokens * 10000 + 0.5) / 10000
                AS p0
            FROM ff f
            LEFT JOIN ff nx ON nx.r = f.r + 1, tot t
            WHERE f.r <= 10"""))

  /** Declarative gaps-and-islands sessionization (30-min gap) — the
    * batch/SQL twin of the stateful streaming sessionizer (same
    * semantics, spec-asserted); ONE shuffle end-to-end: the window's
    * hash partitioning on user_id already satisfies the final
    * (user, session) grouping. */
  val qSessionize = Q(
    "q_sessionize",
    (s, dir) => {
      import graft.streaming.Sessionize
      val ev = Tables(s, dir).events
        .select(col("user_id"), unix_seconds(col("ts").cast("timestamp")).as("ts_s"))
      Sessionize.batchSessions(ev, "user_id", "ts_s", gapS = 1800L)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"))
    },
    Some("""WITH e AS (SELECT user_id,
                CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
            b AS (SELECT user_id, ts_s,
                    CASE WHEN ts_s - lag(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s)
                           <= 1800 THEN 0 ELSE 1 END AS nb
                  FROM e),
            s AS (SELECT user_id, ts_s,
                    sum(nb) OVER (PARTITION BY user_id ORDER BY ts_s
                                  ROWS UNBOUNDED PRECEDING) AS sess
                  FROM b)
            SELECT user_id, min(ts_s) AS session_start,
              max(ts_s) AS session_end, count(*) AS n_events
            FROM s GROUP BY user_id, sess"""))

  /** Spark's built-in `session_window` (gap-merged event-time windows) —
    * the native form of q_sessionize's hand-rolled gaps-and-islands, and
    * the one that runs UNCHANGED on a stream (watermark + append mode).
    * Window end = last event + gap, end-exclusive; the oracle re-derives
    * exactly that from lag() boundaries at microsecond precision. */
  val qSessionWindow = Q(
    "q_session_window",
    (s, dir) => {
      Tables(s, dir).events
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_seconds(col("session_window.start").cast("timestamp")).as("start_s"),
          unix_seconds(col("session_window.end").cast("timestamp")).as("end_s"),
          col("n_events"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
            b AS (SELECT user_id, us,
                    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                           < 1800000000 THEN 0 ELSE 1 END AS nb
                  FROM e),
            s AS (SELECT user_id, us,
                    sum(nb) OVER (PARTITION BY user_id ORDER BY us
                                  ROWS UNBOUNDED PRECEDING) AS sess
                  FROM b)
            SELECT user_id,
              CAST(floor(min(us) / 1000000) AS BIGINT) AS start_s,
              CAST(floor((max(us) + 1800000000) / 1000000) AS BIGINT) AS end_s,
              count(*) AS n_events
            FROM s GROUP BY user_id, sess"""))

  /** Ordered conversion funnel (view → click → purchase): stage k counts
    * users whose first qualifying stage-k event STRICTLY FOLLOWS their
    * stage-(k−1) time. Each stage is a shuffle join on user_id against a
    * per-user 1-row table that shrinks monotonically — uniform key, no
    * broadcast assumption needed at any scale. */
  val qFunnel = Q(
    "q_funnel",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      v.agg(lit("1_view").as("stage"), count(lit(1)).as("n_users"))
        .unionAll(c.agg(lit("2_click").as("stage"), count(lit(1)).as("n_users")))
        .unionAll(p.agg(lit("3_purchase").as("stage"), count(lit(1)).as("n_users")))
    },
    Some("""WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                       WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id)
                  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
            p AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN c USING (user_id)
                  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
            SELECT '1_view' AS stage, count(*) AS n_users FROM v
            UNION ALL SELECT '2_click', count(*) FROM c
            UNION ALL SELECT '3_purchase', count(*) FROM p"""))

  /** Weekly cohort retention: users bucketed by the ISO week of their
    * first event; n_users = distinct users from cohort week `cohort_week`
    * active in week `cohort_week + week_n`. The (user, cohort, week)
    * distinct bounds the final agg input at users × weeks — tiny next to
    * the event table it came from. */
  val qCohort = Q(
    "q_cohort",
    (s, dir) => {
      val ev = Tables(s, dir).events.select(col("user_id"), col("ts"))
      val first = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cw"))
      ev.join(first, "user_id")
        .select(col("user_id"), col("cw"),
          datediff(date_trunc("week", col("ts")), col("cw")).as("dd"))
        .distinct()
        .groupBy(col("cw").cast("date").as("cohort_week"),
          (col("dd") / 7).cast("long").as("week_n"))
        .agg(count(lit(1)).as("n_users"))
    },
    Some("""WITH first AS (
              SELECT user_id, date_trunc('week', min(ts)) AS cw
              FROM events GROUP BY user_id),
            act AS (
              SELECT DISTINCT e.user_id, cw,
                datediff('day', cw, date_trunc('week', ts)) AS dd
              FROM events e JOIN first USING (user_id))
            SELECT CAST(cw AS DATE) AS cohort_week,
              CAST(dd / 7 AS BIGINT) AS week_n,
              count(*) AS n_users
            FROM act GROUP BY cw, dd"""))

  /** Correlation / covariance aggregates (price elasticity shape):
    * single-pass partial-aggregatable moments per group. */
  val qCorrCov = Q(
    "q_corr_cov",
    (s, dir) => {
      // Round-11 fl4 audit: Pearson corr / covar_samp / stddev_samp from
      // EXACT moment sums instead of Spark's order-sensitive streaming
      // merges. Per-row products stay in LONG (≤5.25e10); their sums ride
      // DECIMAL(38,0) so no group size can wrap them; the cross terms
      // (Σx·Σy up to ~1.2e21) multiply as decimals. The only float ops
      // are the final divisions/sqrts over exact integers — the DuckDB
      // oracle spells the identical expression tree over HUGEINTs.
      val q = cents(col("l_quantity"))
      val p = cents(col("l_extendedprice"))
      val d = cents(col("l_discount"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(q).as("sq"), sum(p).as("sp"), sum(d).as("sd"),
          sum(dec(q * q)).as("sq2"), sum(dec(p * p)).as("sp2"),
          sum(dec(q * p)).as("sqp"), sum(dec(q * d)).as("sqd"))
        .select(
          col("l_returnflag"),
          fl4((col("n") * col("sqp") - dec(col("sq")) * col("sp")).cast("double")
            / (sqrt((col("n") * col("sq2") - dec(col("sq")) * col("sq")).cast("double"))
              * sqrt((col("n") * col("sp2") - dec(col("sp")) * col("sp")).cast("double"))))
            .as("corr_qp"),
          fl4((col("n") * col("sqd") - dec(col("sq")) * col("sd")).cast("double")
            / (lit(10000L) * col("n") * (col("n") - 1)).cast("double"))
            .as("cov_qd"),
          fl4(sqrt((col("n") * col("sp2") - dec(col("sp")) * col("sp")).cast("double")
            / (col("n") * (col("n") - 1)).cast("double")) / 100.0)
            .as("sd_price"),
          col("n"))
    },
    Some("""WITH c AS (
              SELECT l_returnflag,
                CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
                CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
                CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d
              FROM lineitem),
            a AS (
              SELECT l_returnflag, count(*) AS n,
                sum(q) AS sq, sum(p) AS sp, sum(d) AS sd,
                sum(CAST(q * q AS HUGEINT)) AS sq2,
                sum(CAST(p * p AS HUGEINT)) AS sp2,
                sum(CAST(q * p AS HUGEINT)) AS sqp,
                sum(CAST(q * d AS HUGEINT)) AS sqd
              FROM c GROUP BY l_returnflag)
            SELECT l_returnflag,
              floor(CAST(n * sqp - CAST(sq AS HUGEINT) * sp AS DOUBLE)
                / (sqrt(CAST(n * sq2 - CAST(sq AS HUGEINT) * sq AS DOUBLE))
                  * sqrt(CAST(n * sp2 - CAST(sp AS HUGEINT) * sp AS DOUBLE)))
                * 10000 + 0.5) / 10000 AS corr_qp,
              floor(CAST(n * sqd - CAST(sq AS HUGEINT) * sd AS DOUBLE)
                / CAST(10000 * n * (n - 1) AS DOUBLE)
                * 10000 + 0.5) / 10000 AS cov_qd,
              floor(sqrt(CAST(n * sp2 - CAST(sp AS HUGEINT) * sp AS DOUBLE)
                / CAST(n * (n - 1) AS DOUBLE)) / 100.0
                * 10000 + 0.5) / 10000 AS sd_price,
              n
            FROM a"""))

  /** Equi-width histogram of a measure: global [min, max] from a tiny
    * 1-row agg broadcast back, then a scan-stage bucket projection and a
    * 10-group count — the profile query every numeric column gets before
    * curation thresholds are chosen. */
  val qHistogram = Q(
    "q_histogram",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val bounds = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      // hi == lo (constant batch) must be guarded: 0/0 is NaN in Spark but
      // NULL in DuckDB, and neither is a bucket — define it as bucket 0
      ev.crossJoin(broadcast(bounds))
        .select(when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(lit(9), floor((col("value") - col("lo")) * 10
            / (col("hi") - col("lo"))).cast("long"))).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"))
    },
    Some("""WITH bounds AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
            SELECT CASE WHEN hi = lo THEN 0
                        ELSE least(9, CAST(floor((value - lo) * 10 / (hi - lo)) AS BIGINT))
                   END AS bucket,
              count(*) AS n
            FROM events, bounds GROUP BY 1"""))

  /** Portable HDR-histogram quantile sketch (see [[graft.ops.Quantiles]]):
    * p50/p90/p99 of floor(l_extendedprice) per return flag from a
    * mergeable integer-bit-math histogram — the approximate-quantile
    * counterpart of the q_hll/q_cms/q_bloom portable-sketch family, and
    * like them exact cross-engine (no float log in the bucket rule, so
    * the oracle reproduces every bucket and estimate digit for digit). */
  val qHdrQuantiles = Q(
    "q_hdr_quantiles",
    (s, dir) => {
      val li = Tables(s, dir).lineitem
      graft.ops.Quantiles.quantiles(
        li.select(col("l_returnflag"),
          floor(col("l_extendedprice")).cast("long").as("v")),
        col("v"), Seq(col("l_returnflag")), Seq(0.5, 0.9, 0.99), subBits = 3)
    },
    Some("""WITH v AS (
              SELECT l_returnflag, CAST(floor(l_extendedprice) AS BIGINT) AS v
              FROM lineitem),
            b AS (
              SELECT l_returnflag,
                CASE WHEN length(bin(v)) - 4 > 0
                  THEN (v >> (length(bin(v)) - 4)) << (length(bin(v)) - 4)
                  ELSE v END AS bucket
              FROM v),
            c AS (SELECT l_returnflag, bucket, count(*) AS n
                  FROM b GROUP BY 1, 2),
            cum AS (
              SELECT l_returnflag, bucket,
                sum(n) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
                sum(n) OVER (PARTITION BY l_returnflag) AS total
              FROM c),
            qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
            SELECT cum.l_returnflag, qs.q AS q, min(bucket) AS estimate
            FROM cum, qs
            WHERE cum >= ceil(qs.q * total)
            GROUP BY 1, 2"""))

  /** Sketch-driven equi-depth deciles of l_extendedprice per returnflag —
    * see [[graft.ops.Quantiles.equiDepthBins]] (two passes: bounded
    * sketch → broadcast boundaries → scan-stage bin fold; replaces a
    * global-sort ntile). subBits=6 keeps decile boundaries distinct at
    * 1.6% bucket width. */
  val qQuantileBins = Q(
    "q_quantile_bins",
    (s, dir) => {
      graft.ops.Quantiles.equiDepthBins(
        Tables(s, dir).lineitem,
        floor(col("l_extendedprice")).cast("long"),
        Seq("l_returnflag"), nBins = 10, subBits = 6)
    },
    Some("""WITH v AS (
              SELECT l_returnflag, CAST(floor(l_extendedprice) AS BIGINT) AS v
              FROM lineitem),
            b AS (
              SELECT l_returnflag, v,
                CASE WHEN length(bin(v)) - 7 > 0
                  THEN (v >> (length(bin(v)) - 7)) << (length(bin(v)) - 7)
                  ELSE v END AS bucket
              FROM v),
            c AS (SELECT l_returnflag, bucket, count(*) AS n
                  FROM b GROUP BY 1, 2),
            cum AS (
              SELECT l_returnflag, bucket,
                sum(n) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
                sum(n) OVER (PARTITION BY l_returnflag) AS total
              FROM c),
            qs AS (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
                                  0.6, 0.7, 0.8, 0.9]) AS q),
            bounds AS (
              SELECT cum.l_returnflag, qs.q, min(bucket) AS est
              FROM cum, qs WHERE cum >= ceil(qs.q * total)
              GROUP BY 1, 2),
            bl AS (SELECT l_returnflag, list(est ORDER BY q) AS bl
                   FROM bounds GROUP BY 1),
            binned AS (
              SELECT v.l_returnflag,
                len(list_filter(bl.bl, b -> v.v > b)) AS bin, v.v
              FROM v JOIN bl USING (l_returnflag))
            SELECT l_returnflag, CAST(bin AS BIGINT) AS bin,
              count(*) AS n_rows, min(v) AS v_min, max(v) AS v_max
            FROM binned GROUP BY 1, 2"""))

  /** Portable KMV distinct estimate of users per event type, with the
    * exact count alongside — see [[graft.ops.Kmv]] for the bottom-k
    * sketch, the k-bounded typed aggregate, and the exact-below-k
    * degradation the gate pins. */
  val qKmvDistinct = Q(
    "q_kmv_distinct",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val est = graft.ops.Kmv.distinctEstimate(
        ev, col("user_id"), Seq(col("event_type")), k = 64)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, "event_type")
    },
    Some("""WITH h AS (
              SELECT DISTINCT event_type,
                ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
                  AS h
              FROM events),
            r AS (
              SELECT event_type, h,
                row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
                count(*) OVER (PARTITION BY event_type) AS nd
              FROM h),
            ex AS (
              SELECT event_type, count(DISTINCT user_id) AS exact_distinct
              FROM events GROUP BY event_type)
            SELECT r.event_type, CAST(least(nd, 64) AS BIGINT) AS n_kept,
              CAST(CASE WHEN nd < 64 THEN nd
                   ELSE floor(CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                              / CAST(h AS DOUBLE))
                   END AS BIGINT) AS est_distinct,
              CAST(exact_distinct AS BIGINT) AS exact_distinct
            FROM r JOIN ex USING (event_type)
            WHERE rn = least(nd, 64)"""))

  /** KMV sketch SET ALGEBRA ([[graft.ops.Kmv.setEstimates]]): pairwise
    * vocabulary overlap between document sources — union/intersection
    * estimates and Jaccard from the per-source bottom-64 token sketches
    * alone, no second corpus scan (the theta-sketch trick HLL registers
    * cannot do). The oracle rebuilds each bottom-k set relationally and
    * replays the identical md5₄₈ estimator arithmetic. */
  val qKmvSetops = Q(
    "q_kmv_setops",
    (s, dir) => {
      val toks = Tables(s, dir).documents
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
      graft.ops.Kmv.setEstimates(toks, col("w"), "source", k = 64)
    },
    Some("""WITH h AS (
              SELECT DISTINCT source,
                ('0x' || substring(md5(w), 1, 12))::BIGINT AS h
              FROM (SELECT source,
                      unnest(string_split_regex(trim(text), '\s+')) AS w
                    FROM documents)
              WHERE w <> ''),
            r AS (
              SELECT source, h,
                row_number() OVER (PARTITION BY source ORDER BY h) AS rn
              FROM h),
            sk AS (
              SELECT source, list(h ORDER BY h) AS ks
              FROM r WHERE rn <= 64 GROUP BY source),
            pairs AS (
              SELECT a.source AS ga, b.source AS gb, a.ks AS ka, b.ks AS kb
              FROM sk a JOIN sk b ON a.source < b.source),
            c1 AS (
              SELECT ga, gb, ka, kb,
                list_slice(list_sort(list_distinct(ka || kb)), 1, 64) AS ku
              FROM pairs),
            c2 AS (
              SELECT ga, gb, len(ku) AS nu,
                len(list_filter(ku, x ->
                  list_contains(ka, x) AND list_contains(kb, x))) AS nboth,
                ku
              FROM c1),
            c3 AS (
              SELECT ga, gb, nu, nboth,
                CASE WHEN nu < 64 THEN CAST(nu AS BIGINT)
                     ELSE CAST(floor(63.0 * 281474976710656.0
                                     / CAST(ku[64] AS DOUBLE)) AS BIGINT)
                END AS union_est
              FROM c2)
            SELECT ga, gb, CAST(nu AS BIGINT) AS n_union_kept, union_est,
              CAST(floor(CAST(nboth AS DOUBLE) * CAST(union_est AS DOUBLE)
                         / CAST(nu AS DOUBLE)) AS BIGINT) AS inter_est,
              floor(CAST(nboth AS DOUBLE) / CAST(nu AS DOUBLE)
                * 10000 + 0.5) / 10000 AS jaccard
            FROM c3"""))

  /** Unpivot (inverse of q_pivot): wide per-flag measures back to long
    * (flag, measure, value) triples — `Dataset.unpivot` is a zero-shuffle
    * Expand over the (already tiny) aggregate. */
  val qUnpivot = Q(
    "q_unpivot",
    (s, dir) => {
      val wide = Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(r4(sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
          r4(dsum(cents(col("l_extendedprice"))) / 100.0).as("sum_price"),
          r4(sum(cents(col("l_discount"))) / (count(lit(1)) * 100.0))
            .as("avg_disc"))
      wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
        "measure", "value")
    },
    Some("""WITH wide AS (
              SELECT l_returnflag,
                round(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty,
                round(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_price,
                round(sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) / (count(*) * 100.0), 4) AS avg_disc
              FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, measure, value
            FROM wide UNPIVOT (value FOR measure IN (sum_qty, sum_price, avg_disc))"""))

  /** FULL OUTER join with nulls fabricated on BOTH sides (disjoint key
    * subsets), plus null-side classification — the join type q3/semi/anti
    * don't exercise. */
  val qOuterJoin = Q(
    "q_outer_join",
    (s, dir) => {
      val t = Tables(s, dir)
      val custSub = t.customer.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), col("c_name"))
      val ordAgg = t.orders.filter(col("o_custkey") % 5 === 0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"),
          r4(dsum(cents(col("o_totalprice"))) / 100.0).as("sum_price"))
      custSub.join(ordAgg, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          when(col("c_custkey").isNull, lit("orders_only"))
            .when(col("o_custkey").isNull, lit("customer_only"))
            .otherwise(lit("both")).as("side"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("sum_price"), lit(0.0)).as("sum_price"))
    },
    Some("""WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0),
            o AS (SELECT o_custkey, count(*) AS n_orders,
                    round(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_price
                  FROM orders WHERE o_custkey % 5 = 0 GROUP BY o_custkey)
            SELECT coalesce(c_custkey, o_custkey) AS custkey,
              CASE WHEN c_custkey IS NULL THEN 'orders_only'
                   WHEN o_custkey IS NULL THEN 'customer_only'
                   ELSE 'both' END AS side,
              coalesce(n_orders, 0) AS n_orders,
              coalesce(sum_price, 0.0) AS sum_price
            FROM c FULL OUTER JOIN o ON c_custkey = o_custkey"""))

  /** Ranking-window battery: dense_rank / percent_rank / cume_dist /
    * ntile in one window pass (single sort per partition), total-ordered
    * by a key tiebreak so every engine agrees row for row. */
  val qWindowRank = Q(
    "q_window_rank",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables(s, dir).events
        .select(col("event_id"), col("event_type"),
          dense_rank().over(w).cast("long").as("drank"),
          fl4(percent_rank().over(w)).as("prank"),
          fl4(cume_dist().over(w)).as("cdist"),
          ntile(4).over(w).cast("long").as("quartile"))
        .filter(col("event_id") % 50 === 0)
    },
    Some("""SELECT event_id, event_type, drank, prank, cdist, quartile FROM (
              SELECT event_id, event_type,
                CAST(dense_rank() OVER w AS BIGINT) AS drank,
                floor(percent_rank() OVER w * 10000 + 0.5) / 10000 AS prank,
                floor(cume_dist() OVER w * 10000 + 0.5) / 10000 AS cdist,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
            WHERE event_id % 50 = 0"""))

  /** Time-series gap fill: a per-user date spine (`sequence` over the
    * user's own [first, last] day span, exploded in the scan stage) left-
    * joined to daily counts, missing days zero-filled — the resampling
    * step time-series features need before window math. Spine size is
    * bounded by span × users, not events. */
  val qGapFill = Q(
    "q_gap_fill",
    (s, dir) => {
      val ev = Tables(s, dir).events.filter(col("user_id") < 40)
        .select(col("user_id"), col("ts").cast("date").as("day"))
      val daily = ev.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n"))
      // spine bounds come from DAILY (distinct user-days), not raw
      // events: the second aggregate re-reduces ~span×users rows instead
      // of the event stream, and its child plan is the same exchange as
      // the join's build side, so AQE reuses it
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"))
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day
                        FROM events WHERE user_id < 40),
            daily AS (SELECT user_id, day, count(*) AS n
                      FROM ev GROUP BY user_id, day),
            spine AS (
              SELECT user_id,
                CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
              FROM ev GROUP BY user_id)
            SELECT user_id, day, coalesce(n, 0) AS n_events
            FROM spine LEFT JOIN daily USING (user_id, day)"""))

  /** Data-quality audit battery: five checks (null/bound/set/range rules
    * + event_id uniqueness) folded into ONE aggregate over ONE scan;
    * output is one verdict row per check. The oracle recomputes each
    * check as an independent SELECT. */
  val qDqAudit = Q(
    "q_dq_audit",
    (s, dir) => {
      graft.ops.Audit.audit(
        Tables(s, dir).events,
        rowChecks = Seq(
          "value_not_null" -> col("value").isNull,
          "value_nonneg" -> (col("value") < 0),
          "type_known" -> !col("event_type").isin("click", "view", "purchase", "error", "signup"),
          "ts_in_2024" -> (col("ts") < lit("2024-01-01").cast("timestamp")
            || col("ts") >= lit("2025-01-01").cast("timestamp"))),
        uniqueCols = Seq("event_id"))
    },
    Some("""SELECT 'value_not_null' AS check_name,
              CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
              count(*) AS n_rows,
              sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0 AS passed
            FROM events
            UNION ALL
            SELECT 'value_nonneg',
              CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
              count(*),
              sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) = 0
            FROM events
            UNION ALL
            SELECT 'type_known',
              CAST(sum(CASE WHEN event_type NOT IN
                ('click','view','purchase','error','signup') THEN 1 ELSE 0 END) AS BIGINT),
              count(*),
              sum(CASE WHEN event_type NOT IN
                ('click','view','purchase','error','signup') THEN 1 ELSE 0 END) = 0
            FROM events
            UNION ALL
            SELECT 'ts_in_2024',
              CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-01'
                OR ts >= TIMESTAMP '2025-01-01' THEN 1 ELSE 0 END) AS BIGINT),
              count(*),
              sum(CASE WHEN ts < TIMESTAMP '2024-01-01'
                OR ts >= TIMESTAMP '2025-01-01' THEN 1 ELSE 0 END) = 0
            FROM events
            UNION ALL
            SELECT 'unique_event_id',
              CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT),
              count(*),
              count(event_id) = count(DISTINCT event_id)
            FROM events"""))

  /** CDC compaction: latest change per (user, type) via the partial-
    * aggregatable `max(struct(version…))` reduction; the oracle runs the
    * textbook window row_number form — two independent formulations of
    * "latest row per key". */
  val qCdcSnapshot = Q(
    "q_cdc_snapshot",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .withColumn("us", graft.model.Msg.epochUs(col("ts")))
      graft.ops.Cdc.latestSnapshot(ev,
          keyCols = Seq("user_id", "event_type"),
          versionCols = Seq("us", "event_id"),
          payloadCols = Seq("value"))
        .select(col("user_id"), col("event_type"), col("us"),
          col("event_id"), col("value"))
    },
    Some("""SELECT user_id, event_type, us, event_id, value FROM (
              SELECT user_id, event_type, epoch_us(ts) AS us, event_id, value,
                row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
              FROM events)
            WHERE rn = 1"""))

  /** Period-over-period snapshot diff — `ops.Cdc.snapshotDiff` over two
    * CDC compactions of the event log split at the midpoint event id
    * (a 1-row broadcast constant; `div` keeps the integer-division floor
    * identical cross-engine): which (user, event_type) streams appeared,
    * went quiet, or changed their latest value between the halves. Each
    * snapshot is the partial-aggregatable max_by reduction; the diff is
    * ONE key-partitioned full outer join with null-safe compare (`<=>` /
    * IS DISTINCT FROM), so NULL→value transitions classify as changed. */
  val qSnapshotDiff = Q(
    "q_snapshot_diff",
    (s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("user_id"), col("event_type"), col("value"),
        graft.model.Msg.epochUs(col("ts")).as("us"), col("event_id"))
      val mid = ev.agg(expr("max(event_id) div 2").as("k"))
      val tagged = ev.crossJoin(broadcast(mid))
      def snap(p: Column) = graft.ops.Cdc.latestSnapshot(tagged.filter(p),
        keyCols = Seq("user_id", "event_type"),
        versionCols = Seq("us", "event_id"),
        payloadCols = Seq("value"))
        .select(col("user_id"), col("event_type"), col("value"))
      graft.ops.Cdc.snapshotDiff(
        snap(col("event_id") <= col("k")), snap(col("event_id") > col("k")),
        keyCols = Seq("user_id", "event_type"), compareCols = Seq("value"))
    },
    Some("""WITH k AS (SELECT max(event_id) // 2 AS k FROM events),
            p1 AS (SELECT user_id, event_type, value FROM (
                SELECT e.user_id, e.event_type, e.value,
                  row_number() OVER (PARTITION BY e.user_id, e.event_type
                    ORDER BY epoch_us(e.ts) DESC, e.event_id DESC) AS rn
                FROM events e, k WHERE e.event_id <= k.k) WHERE rn = 1),
            p2 AS (SELECT user_id, event_type, value FROM (
                SELECT e.user_id, e.event_type, e.value,
                  row_number() OVER (PARTITION BY e.user_id, e.event_type
                    ORDER BY epoch_us(e.ts) DESC, e.event_id DESC) AS rn
                FROM events e, k WHERE e.event_id > k.k) WHERE rn = 1)
            SELECT * FROM (
              SELECT coalesce(p1.user_id, p2.user_id) AS user_id,
                     coalesce(p1.event_type, p2.event_type) AS event_type,
                     CASE WHEN p1.user_id IS NULL THEN 'added'
                          WHEN p2.user_id IS NULL THEN 'removed'
                          WHEN p1.value IS DISTINCT FROM p2.value
                            THEN 'changed' END AS change,
                     p1.value AS value_old, p2.value AS value_new
              FROM p1 FULL OUTER JOIN p2
                ON p1.user_id = p2.user_id AND p1.event_type = p2.event_type)
            WHERE change IS NOT NULL"""))

  /** MERGE INTO (SQL:2003 upsert-with-delete) — apply the second half of
    * the event log, compacted to one change per user with
    * latest-event-type='error' as the tombstone, onto the first-half
    * snapshot: one null-safe full outer join (see
    * [[graft.ops.Cdc.mergeInto]]). The oracle states the same MERGE as
    * FULL JOIN + CASE; source-presence tests its never-null `del` flag,
    * not the key (the flag marks the side, the key may in general be
    * NULL). */
  val qMergeUpsert = Q(
    "q_merge_upsert",
    (s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("user_id"), col("event_type"), col("value"),
        graft.model.Msg.epochUs(col("ts")).as("us"), col("event_id"))
      val mid = ev.agg(expr("max(event_id) div 2").as("k"))
      val tagged = ev.crossJoin(broadcast(mid))
      def snap(p: Column) = graft.ops.Cdc.latestSnapshot(tagged.filter(p),
        keyCols = Seq("user_id"),
        versionCols = Seq("us", "event_id"),
        payloadCols = Seq("event_type", "value"))
      val target = snap(col("event_id") <= col("k"))
        .select(col("user_id"), col("event_type"), col("value"))
      val source = snap(col("event_id") > col("k"))
        .select(col("user_id"), col("event_type"), col("value"),
          (col("event_type") === "error").as("del"))
      graft.ops.Cdc.mergeInto(target, source,
          keyCols = Seq("user_id"),
          payloadCols = Seq("event_type", "value"),
          deleteCol = "del")
        .select(col("user_id"), col("event_type"), col("value"))
    },
    Some("""WITH k AS (SELECT max(event_id) // 2 AS k FROM events),
            t AS (SELECT user_id, event_type, value FROM (
              SELECT e.user_id, e.event_type, e.value,
                row_number() OVER (PARTITION BY e.user_id
                  ORDER BY epoch_us(e.ts) DESC, e.event_id DESC) AS rn
              FROM events e, k WHERE e.event_id <= k.k) WHERE rn = 1),
            s AS (SELECT user_id, event_type, value,
                    event_type = 'error' AS del FROM (
              SELECT e.user_id, e.event_type, e.value,
                row_number() OVER (PARTITION BY e.user_id
                  ORDER BY epoch_us(e.ts) DESC, e.event_id DESC) AS rn
              FROM events e, k WHERE e.event_id > k.k) WHERE rn = 1)
            SELECT coalesce(t.user_id, s.user_id) AS user_id,
              CASE WHEN s.del IS NOT NULL THEN s.event_type
                   ELSE t.event_type END AS event_type,
              CASE WHEN s.del IS NOT NULL THEN s.value
                   ELSE t.value END AS value
            FROM t FULL OUTER JOIN s ON t.user_id = s.user_id
            WHERE NOT coalesce(s.del, false)"""))

  /** Hopping (sliding) time windows: 1-hour windows every 15 minutes —
    * each event lands in exactly 4 windows (Spark `window(ts, w, slide)`
    * explodes in the scan stage; one shuffle on window start). The
    * oracle re-derives epoch-aligned window starts with integer µs
    * arithmetic. */
  val qHopping = Q(
    "q_hopping",
    (s, dir) => {
      Tables(s, dir).events
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n"),
          // exact cents lane (fl4 audit): BIGINT sum, one final division
          fl4(sum(cents(col("value"))) / (count(lit(1)) * 100.0))
            .as("avg_value"))
        .select(
          unix_seconds(col("window.start").cast("timestamp")).as("start_s"),
          unix_seconds(col("window.end").cast("timestamp")).as("end_s"),
          col("n"), col("avg_value"))
    },
    Some("""WITH e AS (SELECT epoch_us(ts) AS us, value FROM events),
            j AS (SELECT unnest([0, 1, 2, 3]) AS k),
            w AS (SELECT (CAST(floor(us / 900000000) AS BIGINT) - k) * 900000000 AS st,
                    value
                  FROM e, j)
            SELECT CAST(st / 1000000 AS BIGINT) AS start_s,
              CAST((st + 3600000000) / 1000000 AS BIGINT) AS end_s,
              count(*) AS n,
              floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                / (count(*) * 100.0) * 10000 + 0.5) / 10000 AS avg_value
            FROM w GROUP BY st"""))

  /** TPC-H Q5 shape: six-table join through the region→nation→supplier
    * snowflake with the local-supplier predicate (c_nationkey =
    * s_nationkey). All four dimensions broadcast; the fact-fact
    * orders⋈lineitem join shuffles once on orderkey. Catalyst owns the
    * join order — the query only states the algebra. */
  val q5Revenue = Q(
    "q5_revenue",
    (s, dir) => {
      val t = Tables(s, dir)
      val asia = t.region.filter(col("r_name") === "ASIA")
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"))
        .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.supplier),
          col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("date")
          && col("o_orderdate") < lit("1997-01-01").cast("date"))
        .groupBy(col("n_name"))
        .agg(r4(dsum(cents(col("l_extendedprice"))
          * (lit(100L) - cents(col("l_discount")))) / 10000.0).as("revenue"))
    },
    Some("""SELECT n_name,
              round(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) / 10000.0, 4) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= DATE '1996-01-01'
              AND o_orderdate < DATE '1997-01-01'
            GROUP BY n_name"""))

  /** TPC-H Q13 shape (customer distribution): LEFT OUTER join so
    * zero-order customers keep a 0 count, then a second aggregation over
    * the first — the double-agg pattern where the outer groupBy input is
    * already customer-sized, not fact-sized. */
  val q13Custdist = Q(
    "q13_custdist",
    (s, dir) => {
      val t = Tables(s, dir)
      val open = t.orders.filter(col("o_orderstatus") =!= "F")
      t.customer.join(open, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    },
    Some("""SELECT c_count, count(*) AS custdist FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN (
                SELECT * FROM orders WHERE o_orderstatus <> 'F') o
                ON c_custkey = o_custkey
              GROUP BY c_custkey)
            GROUP BY c_count"""))

  /** NOT IN subquery → Spark's null-aware anti join (a distinct physical
    * plan from the plain LEFT ANTI of q_semi_anti: one NULL in the
    * subquery legally empties the result, so the build side must track
    * null presence). Parts never sold in bulk. */
  val qNotIn = Q(
    "q_not_in",
    (s, dir) => {
      val t = Tables(s, dir)
      t.part.createOrReplaceTempView("graft_notin_part")
      t.lineitem.createOrReplaceTempView("graft_notin_lineitem")
      s.sql("""SELECT p_brand, count(*) AS n_parts
               FROM graft_notin_part
               WHERE p_partkey NOT IN (SELECT l_partkey FROM graft_notin_lineitem
                                       WHERE l_quantity >= 48)
               GROUP BY p_brand""")
    },
    Some("""SELECT p_brand, count(*) AS n_parts
            FROM part
            WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem
                                    WHERE l_quantity >= 48)
            GROUP BY p_brand"""))

  /** Bag-semantics set ops (EXCEPT ALL / INTERSECT ALL) — duplicate
    * counts preserved, unlike q_set_ops' DISTINCT forms. Spark lowers
    * both to a count-compare aggregate + generate, never a join blowup. */
  val qSetOpsAll = Q(
    "q_set_ops_all",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select((col("user_id") % 100).as("bucket"))
      val views = ev.filter(col("event_type") === "view")
        .select((col("user_id") % 100).as("bucket"))
      clicks.exceptAll(views)
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_excess_clicks"))
    },
    Some("""WITH c AS (SELECT user_id % 100 AS bucket FROM events
                       WHERE event_type = 'click'),
            v AS (SELECT user_id % 100 AS bucket FROM events
                  WHERE event_type = 'view')
            SELECT bucket, count(*) AS n_excess_clicks
            FROM (SELECT bucket FROM c EXCEPT ALL SELECT bucket FROM v)
            GROUP BY bucket"""))

  /** PURE interval join (no equi key) — the shape Spark can only plan as
    * a nested-loop join. graft's `RangeJoinRule` (installed by
    * `GraftSession.install`, activated by the binWidth conf) rewrites it
    * to a bin-bucketed equi join; the oracle is DuckDB's own native
    * range-join path — two engines' interval-join implementations
    * checking each other. RangeJoinRuleSpec proves the rewrite fires and
    * matches the un-rewritten results. */
  val qIntervalJoin = Q(
    "q_interval_join",
    (s, dir) => {
      val ev = Tables(s, dir).events
        .select(col("event_id"), unix_seconds(col("ts").cast("timestamp")).as("p"))
      val iv = Tables(s, dir).events
        .groupBy(col("user_id").as("iv_id"))
        .agg(unix_seconds(min(col("ts")).cast("timestamp")).as("lo"))
        .withColumn("hi", col("lo") + 7200L)
      val joined = ev.join(iv, col("p") >= col("lo") && col("p") <= col("hi"))
        .select(col("event_id"), col("iv_id"))
      // apply the rewrite EXPLICITLY at build time (fixed width) instead
      // of arming the session-wide conf switch: a conf set here would
      // persist past this builder and silently rewrite any later pure
      // range join run in the same session (Verify/Bench share one)
      org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(s,
        graft.plans.RangeJoinRule(fixedWidth = Some(3600L))
          .apply(joined.queryExecution.analyzed))
    },
    Some("""WITH p AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS p
                       FROM events),
            iv AS (SELECT user_id AS iv_id,
                     CAST(floor(epoch(min(ts))) AS BIGINT) AS lo,
                     CAST(floor(epoch(min(ts))) AS BIGINT) + 7200 AS hi
                   FROM events GROUP BY user_id)
            SELECT event_id, iv_id
            FROM p JOIN iv ON p.p >= iv.lo AND p.p <= iv.hi"""))

  /** Z-order clustering value (data-skipping layout for the write path):
    * bit-interleaved (value, user_id) buckets — the oracle replicates the
    * normalization and every shift/mask term bit for bit. */
  val qZorder = Q(
    "q_zorder",
    (s, dir) => {
      graft.ops.Layout.withZValue(
          Tables(s, dir).events.select(col("event_id"), col("value"), col("user_id")),
          "value", "user_id", bits = 16)
        .select(col("event_id"), col("z"))
        .orderBy(col("z"), col("event_id"))
        .limit(64)
    },
    Some("""WITH b AS (SELECT min(value) AS xlo, max(value) AS xhi,
                     min(user_id) AS ylo, max(user_id) AS yhi FROM events),
            z AS (SELECT event_id,
                    least(65535, CAST(floor((value - xlo) * 65536 / (xhi - xlo + 1e-12)) AS BIGINT)) AS xb,
                    least(65535, CAST(floor((user_id - ylo) * 65536 / (yhi - ylo + 1e-12)) AS BIGINT)) AS yb
                  FROM events, b)
            SELECT event_id,
              CAST((SELECT sum(
                      (((xb >> i) & 1) << (2 * i)) | (((yb >> i) & 1) << (2 * i + 1)))
                    FROM range(16) t(i)) AS BIGINT) AS z
            FROM z
            ORDER BY z, event_id LIMIT 64"""))

  /** Hilbert-curve layout clustering ([[graft.ops.Layout.hilbertIndex]],
    * the locality-superior Z-order sibling — consecutive values are
    * always ADJACENT cells, no power-of-two diagonal jumps): same
    * bucket/bounds shape as q_zorder, the index from the unrolled
    * 16-level xy2d fold. The oracle replays every level as its own CTE
    * with PER-LEVEL column names (xk/yk/dk — immune to lateral alias
    * capture) and must match the fold bit for bit. */
  val qHilbert = Q(
    "q_hilbert",
    (s, dir) => {
      graft.ops.Layout.withHilbertValue(
          Tables(s, dir).events.select(col("event_id"), col("value"),
            col("user_id")),
          "value", "user_id", bits = 16)
        .select(col("event_id"), col("h"))
        .orderBy(col("h"), col("event_id"))
        .limit(64)
    },
    Some(hilbertOracle(16)))

  /** Unrolled xy2d CTE chain for [[qHilbert]] — step K processes level
    * i = bits − K over state (x{K−1}, y{K−1}, d{K−1}). */
  private def hilbertOracle(bits: Int): String = {
    val n = 1L << bits
    val steps = (1 to bits).map { k =>
      val i = bits - k
      val s = 1L << i
      val px = s"x${k - 1}"; val py = s"y${k - 1}"; val pd = s"d${k - 1}"
      s"""st$k AS (
              SELECT event_id,
                CASE WHEN (($py >> $i) & 1) = 0
                     THEN CASE WHEN (($px >> $i) & 1) = 1
                               THEN ${n - 1} - $py ELSE $py END
                     ELSE $px END AS x$k,
                CASE WHEN (($py >> $i) & 1) = 0
                     THEN CASE WHEN (($px >> $i) & 1) = 1
                               THEN ${n - 1} - $px ELSE $px END
                     ELSE $py END AS y$k,
                $pd + ${s * s} * xor(3 * (($px >> $i) & 1),
                                     ($py >> $i) & 1) AS d$k
              FROM st${k - 1})"""
    }.mkString(",\n")
    s"""WITH b AS (SELECT min(value) AS xlo, max(value) AS xhi,
                 min(user_id) AS ylo, max(user_id) AS yhi FROM events),
        st0 AS (SELECT event_id,
                  least(${n - 1}, CAST(floor((value - xlo) * $n
                    / (xhi - xlo + 1e-12)) AS BIGINT)) AS x0,
                  least(${n - 1}, CAST(floor((user_id - ylo) * $n
                    / (yhi - ylo + 1e-12)) AS BIGINT)) AS y0,
                  CAST(0 AS BIGINT) AS d0
                FROM events, b),
        $steps
        SELECT event_id, CAST(d$bits AS BIGINT) AS h
        FROM st$bits ORDER BY h, event_id LIMIT 64"""
  }

  /** Tukey-fence outlier profile per event type: exact quartiles → IQR
    * fences → per-type outlier accounting. The quartile table is rows =
    * #types (tiny) and broadcasts back onto the fact scan — the events
    * table itself is never shuffled (the final agg exchanges #types
    * rows). Fences are rounded to 4 decimals on BOTH sides before the
    * comparison so the in/out verdict is engine-exact (values carry 2
    * decimals, so a 4-decimal fence can never sit on a data point). */
  val qOutliers = Q(
    "q_outliers",
    (s, dir) => {
      val ev = Tables(s, dir).events
      val fences = ev.groupBy(col("event_type")).agg(
          percentile(col("value"), lit(0.25)).as("q1"),
          percentile(col("value"), lit(0.75)).as("q3"))
        .select(col("event_type"),
          r4(col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          r4(col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      ev.join(broadcast(fences), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
            .otherwise(0L)).as("n_outliers"),
          r4(max(when(col("value") > col("hi"), col("value")))).as("max_outlier"))
        .select(col("event_type"), col("n_total"), col("n_outliers"),
          col("max_outlier"))
    },
    Some("""WITH f AS (
              SELECT event_type,
                round(quantile_cont(value, 0.25)
                  - (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 1.5, 4) AS lo,
                round(quantile_cont(value, 0.75)
                  + (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)) * 1.5, 4) AS hi
              FROM events GROUP BY event_type)
            SELECT e.event_type, count(*) AS n_total,
              CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
              round(max(CASE WHEN e.value > f.hi THEN e.value END), 4) AS max_outlier
            FROM events e JOIN f ON e.event_type = f.event_type
            GROUP BY e.event_type"""))

  /** Forward fill (last-observation-carried-forward): each event carries
    * the value of the user's most recent purchase. One shuffle on
    * user_id serves the single window; the IGNORE NULLS last() is
    * running-frame, so no second pass. The classic as-of enrichment when
    * source and target are the SAME ordered stream (the two-table form
    * is `q_asof_join`). */
  val qFfill = Q(
    "q_ffill",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir).events
        .withColumn("pv",
          when(col("event_type") === "purchase", col("value")))
        .withColumn("last_purchase", last(col("pv"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"),
          r4(coalesce(col("last_purchase"), lit(-1.0))).as("last_purchase"))
    },
    Some("""SELECT user_id, event_id,
              round(coalesce(
                last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                -1.0), 4) AS last_purchase
            FROM events"""))

  /** Rolling z-score anomaly detection: value vs the trailing-20-row
    * mean/stddev per user; rows more than 2.5 rounded sigmas out are
    * anomalies. Shares one user_id sort for both window aggregates; the
    * z-score is rounded to 4 decimals on both sides BEFORE the threshold
    * test so frame-accumulation-order ulps can't flip a verdict. */
  val qAnomaly = Q(
    "q_anomaly",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-19, Window.currentRow)
      // Round-11 fl4 audit: windowed avg/stddev are engine-order hazards
      // (Spark iterates the frame, DuckDB merges a segment tree — both
      // sum doubles in different orders), and TWO selection boundaries
      // (sd > 0, |z| > 2.5) hang on them. Exact lanes: window sums of
      // cents and cents² are BIGINT (≤20-row frames, ≤1.3e12 — no wrap),
      // the variance sign check is an exact integer comparison, and mu/sd
      // are fixed double expressions over exact integers.
      val c = cents(col("value"))
      Tables(s, dir).events
        .withColumn("nw", count(lit(1)).over(w))
        .withColumn("sw", sum(c).over(w))
        .withColumn("s2w", sum(c * c).over(w))
        .withColumn("var2",
          col("nw") * col("s2w") - col("sw") * col("sw"))
        .withColumn("mu", col("sw") / (col("nw") * 100.0))
        .withColumn("sd", sqrt(col("var2").cast("double")
          / (col("nw") * (col("nw") - 1)).cast("double")) / 100.0)
        .withColumn("z", r4((col("value") - col("mu")) / col("sd")))
        .filter(col("var2") > 0 && abs(col("z")) > 2.5)
        .select(col("user_id"), col("event_id"), col("z"))
    },
    Some("""SELECT user_id, event_id, z FROM (
              SELECT user_id, event_id, var2,
                round((value - mu) / sd, 4) AS z
              FROM (
                SELECT user_id, event_id, value,
                  nw * s2w - sw * sw AS var2,
                  sw / (nw * 100.0) AS mu,
                  sqrt(CAST(nw * s2w - sw * sw AS DOUBLE)
                    / CAST(nw * (nw - 1) AS DOUBLE)) / 100.0 AS sd
                FROM (
                  SELECT user_id, event_id, value,
                    count(*) OVER w AS nw,
                    sum(q) OVER w AS sw,
                    sum(q * q) OVER w AS s2w
                  FROM (SELECT user_id, event_id, ts, value,
                          CAST(floor(value * 100 + 0.5) AS BIGINT) AS q
                        FROM events)
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))))
            WHERE var2 > 0 AND abs(z) > 2.5"""))

  /** PageRank (3 power iterations, d = 0.85) over the customer–supplier
    * purchase graph (undirected; supplier ids negated into their own node
    * range — disjoint from custkeys at every scale factor). Per iteration: one uniform-key shuffle (edges ⋈ ranks on
    * src), lineage checkpointed per round — the CC loop shape. The
    * oracle unrolls the identical three iterations as CTEs; all rank
    * arithmetic is explicit DOUBLE on both sides (DuckDB decimal
    * division would otherwise diverge). Emits every node (no top-k, so
    * near-tie rank order can't flip a selection boundary). */
  val qPagerank = Q(
    "q_pagerank",
    (s, dir) => {
      val t = Tables(s, dir)
      val raw = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        // suppliers map to STRICTLY NEGATIVE ids (−(k+1)): disjoint from
        // custkeys at every SF (a fixed offset collides once custkey
        // exceeds it, and bare negation collides at key 0)
        .select(col("o_custkey").as("src"), (-(col("l_suppkey") + 1)).as("dst"))
      // no pre-distinct: undirected()'s own distinct dedupes the raw
      // pairs and both orientations in ONE shuffle
      graft.graph.Graph.pageRank(graft.graph.Graph.undirected(raw), iters = 3)
        .select(col("id"), r4(col("pr") * 1000).as("pr_x1000"))
    },
    Some("""WITH eb AS (
              SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            e AS (SELECT src, dst FROM eb UNION SELECT dst, src FROM eb),
            deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
            ew AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / outdeg AS w
                   FROM e JOIN deg USING (src)),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
            p0 AS (SELECT src AS id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr
                   FROM deg),
            p1 AS (SELECT ew.dst AS id,
                     (CAST(1.0 AS DOUBLE) - 0.85) / (SELECT n FROM nn)
                       + 0.85 * sum(p0.pr * ew.w) AS pr
                   FROM ew JOIN p0 ON p0.id = ew.src GROUP BY ew.dst),
            p2 AS (SELECT ew.dst AS id,
                     (CAST(1.0 AS DOUBLE) - 0.85) / (SELECT n FROM nn)
                       + 0.85 * sum(p1.pr * ew.w) AS pr
                   FROM ew JOIN p1 ON p1.id = ew.src GROUP BY ew.dst),
            p3 AS (SELECT ew.dst AS id,
                     (CAST(1.0 AS DOUBLE) - 0.85) / (SELECT n FROM nn)
                       + 0.85 * sum(p2.pr * ew.w) AS pr
                   FROM ew JOIN p2 ON p2.id = ew.src GROUP BY ew.dst)
            SELECT id, round(pr * 1000, 4) AS pr_x1000 FROM p3"""))

  /** Deterministic DeepWalk-style random walks over the undirected
    * customer–supplier graph ([[graft.graph.Graph.randomWalks]]): one
    * walk per sampled customer, 4 hops, next-neighbor choice =
    * portable-md5(walk:step:node) mod degree — so the oracle replays
    * every hop digit for digit. At scale: adjacency ranked once
    * (keyed window), each hop ONE frontier-sized equi-join. */
  val qRandomWalks = Q(
    "q_random_walks",
    (s, dir) => {
      val t = Tables(s, dir)
      val raw = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), (-(col("l_suppkey") + 1)).as("dst"))
      val und = graft.graph.Graph.undirected(raw)
      // every sampled customer appears as a src in the raw pair list —
      // deriving starts there keeps the undirected closure single-use
      // (its one consumer, randomWalks, checkpoints the ranked form)
      val starts = raw.filter(col("src") > 0 && col("src") % 50 === 0)
        .select(col("src").as("walk_id"), col("src").as("node")).distinct()
      graft.graph.Graph.randomWalks(und, starts, steps = 4)
    },
    Some {
      val hops = (1 to 4).map { s =>
        s"""w$s AS (SELECT w.walk_id, a.dst AS node
              FROM w${s - 1} w JOIN adj a ON a.src = w.node
              AND a.rk = 1 + (('0x' || substring(md5(
                w.walk_id::VARCHAR || ':$s:' || w.node::VARCHAR),
                1, 15))::BIGINT % a.deg))"""
      }.mkString(",\n            ")
      val out = (0 to 4).map(s =>
        s"SELECT walk_id, CAST($s AS BIGINT) AS step, node FROM w$s")
        .mkString("\n            UNION ALL ")
      s"""WITH eb AS (
              SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            e AS (SELECT src, dst FROM eb UNION SELECT dst, src FROM eb),
            adj AS (SELECT src, dst,
                row_number() OVER (PARTITION BY src ORDER BY dst) AS rk,
                count(*) OVER (PARTITION BY src) AS deg
              FROM e),
            w0 AS (SELECT DISTINCT src AS walk_id, src AS node FROM e
                   WHERE src > 0 AND src % 50 = 0),
            $hops
            $out"""
    })

  /** Two synchronous Louvain local-move sweeps from singletons
    * ([[graft.graph.Graph.louvainMove]]) over the co-purchase graph:
    * the exact-integer gain S = 2m·k_vC − tot'(C)·k_v makes every move
    * (and so the final assignment) engine-reproducible; the oracle
    * replays both sweeps with the same argmin-struct pick. */
  val qLouvain = Q(
    "q_louvain",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 100 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c"))
        .distinct()
      val canon = buyers.as("b1")
        .join(buyers.as("b2"),
          col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      graft.graph.Graph.louvain(
        graft.graph.Graph.undirected(canon), rounds = 2)
    },
    Some {
      val rounds = (1 to 2).map { r =>
        s"""tot$r AS (
              SELECT a.cid, sum(d.k) AS tot
              FROM a${r - 1} a JOIN deg d USING (node) GROUP BY a.cid),
            cand$r AS (
              SELECT node, cand_cid, sum(k_vc) AS k_vc FROM (
                SELECT e.src AS node, a.cid AS cand_cid,
                  count(*) AS k_vc
                FROM e JOIN a${r - 1} a ON a.node = e.dst
                GROUP BY e.src, a.cid
                UNION ALL
                SELECT node, cid, CAST(0 AS BIGINT) FROM a${r - 1})
              GROUP BY node, cand_cid),
            sc$r AS (
              SELECT c.node, c.cand_cid,
                2 * (SELECT m FROM mm) * c.k_vc
                  - (t.tot - CASE WHEN c.cand_cid = a.cid
                      THEN d.k ELSE CAST(0 AS BIGINT) END) * d.k AS s
              FROM cand$r c
              JOIN a${r - 1} a USING (node)
              JOIN deg d USING (node)
              JOIN tot$r t ON t.cid = c.cand_cid),
            a$r AS (
              SELECT node,
                (min(struct_pack(ns := -s, cc := cand_cid))).cc AS cid
              FROM sc$r GROUP BY node)"""
      }.mkString(",\n            ")
      s"""WITH buyers AS (
              SELECT DISTINCT l_partkey AS p, o_custkey AS c
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_partkey % 100 = 0),
            eb AS (
              SELECT DISTINCT b1.c AS src, b2.c AS dst
              FROM buyers b1 JOIN buyers b2
                ON b1.p = b2.p AND b1.c < b2.c),
            e AS MATERIALIZED (
              SELECT src, dst FROM eb UNION SELECT dst, src FROM eb),
            mm AS (SELECT count(*) // 2 AS m FROM e),
            deg AS (SELECT src AS node, count(*) AS k FROM e GROUP BY src),
            a0 AS (SELECT DISTINCT src AS node, src AS cid FROM e),
            $rounds
            SELECT node, cid FROM a2"""
    })

  /** Deterministic node2vec biased walks
    * ([[graft.graph.Graph.node2vecWalks]], p=4 q=0.25 — outward/DFS-ish
    * exploration): hop 1 uniform, later hops weight return edges 1/p,
    * triangle-closing edges 1, forward edges 1/q, picked by portable
    * inverse-CDF sampling (md5₆₀/2⁶⁰ × total weight). The oracle
    * replays every hop: same cumulative window in dst order, same
    * max(cumw) order-safe total, same ≥ boundary. */
  val qNode2vec = Q(
    "q_node2vec",
    (s, dir) => {
      val t = Tables(s, dir)
      val raw = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), (-(col("l_suppkey") + 1)).as("dst"))
      val und = graft.graph.Graph.undirected(raw)
      val starts = raw.filter(col("src") > 0 && col("src") % 50 === 0)
        .select(col("src").as("walk_id"), col("src").as("node")).distinct()
      graft.graph.Graph.node2vecWalks(und, starts, steps = 4,
        p = 4.0, q = 0.25)
    },
    Some {
      val hops = (2 to 4).map { s =>
        s"""cand$s AS (
              SELECT w.walk_id, w.prev, w.cur, a.dst
              FROM st${s - 1} w JOIN e a ON a.src = w.cur),
            flag$s AS (
              SELECT c.walk_id, c.prev, c.cur, c.dst,
                CASE WHEN c.dst = c.prev THEN 0.25
                     WHEN e2.src IS NOT NULL THEN 1.0
                     ELSE 4.0 END AS wt
              FROM cand$s c LEFT JOIN e e2
                ON e2.src = c.prev AND e2.dst = c.dst),
            cum$s AS (
              SELECT *, sum(wt) OVER (PARTITION BY walk_id ORDER BY dst
                ROWS UNBOUNDED PRECEDING) AS cumw
              FROM flag$s),
            thr$s AS (
              SELECT *,
                (('0x' || substring(md5(walk_id::VARCHAR || ':$s:' ||
                    prev::VARCHAR || ':' || cur::VARCHAR),
                  1, 15))::BIGINT::DOUBLE / 1152921504606846976.0)
                * max(cumw) OVER (PARTITION BY walk_id) AS rw
              FROM cum$s),
            st$s AS (
              SELECT walk_id, cur AS prev, min(dst) AS cur
              FROM thr$s WHERE cumw >= rw GROUP BY walk_id, cur)"""
      }.mkString(",\n            ")
      val out = (1 to 4).map(s =>
        s"SELECT walk_id, CAST($s AS BIGINT) AS step, cur AS node FROM st$s")
        .mkString("\n            UNION ALL ")
      s"""WITH eb AS (
              SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            e AS (SELECT src, dst FROM eb UNION SELECT dst, src FROM eb),
            adj AS (SELECT src, dst,
                row_number() OVER (PARTITION BY src ORDER BY dst) AS rk,
                count(*) OVER (PARTITION BY src) AS deg
              FROM e),
            w0 AS (SELECT DISTINCT src AS walk_id, src AS node FROM eb
                   WHERE src > 0 AND src % 50 = 0),
            st1 AS (SELECT w.walk_id, w.node AS prev, a.dst AS cur
              FROM w0 w JOIN adj a ON a.src = w.node
              AND a.rk = 1 + (('0x' || substring(md5(
                w.walk_id::VARCHAR || ':1:' || w.node::VARCHAR),
                1, 15))::BIGINT % a.deg)),
            $hops
            SELECT walk_id, CAST(0 AS BIGINT) AS step, node FROM w0
            UNION ALL $out"""
    })

  /** TPC-H Q14 shape (promo revenue share): one fact–dim join, ratio of a
    * conditional sum to the total — both numerator and denominator come
    * from the SAME aggregate over one scan. part broadcasts; at scale the
    * join is the only exchange and produces a single row. */
  /** TPC-H Q2 shape (min-cost supplier): for each %25 part, the supplier
    * with the LOWEST average unit price over its line items — the
    * correlated-min pattern Q2 runs over partsupp, re-expressed over
    * lineitem (this dataset carries no partsupp): one (part, supp)
    * aggregate (exact BIGINT cents and quantities), then the per-part
    * argmin on (cents/qty, suppkey) — the division inputs are identical
    * exact integers on both engines, so the ordering doubles are
    * bit-identical and the pick cannot drift; one supplier→nation
    * broadcast join finishes. The reported average divides once. */
  val q2MinCost = Q(
    "q2_min_cost",
    (s, dir) => {
      val t = Tables(s, dir)
      val ps2 = t.lineitem.filter(col("l_partkey") % 25 === 0)
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .as("cents"),
          sum(col("l_quantity").cast("long")).as("qty"))
      val best = ps2
        .withColumn("r",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("l_partkey"))
            .orderBy((col("cents").cast("double") / col("qty")).asc,
              col("l_suppkey"))))
        .filter(col("r") === 1)
      best.join(broadcast(t.supplier),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("l_partkey").as("p_partkey"),
          col("s_suppkey"), col("s_name"), col("n_name"),
          col("cents"), col("qty"),
          (floor(col("cents").cast("double") / col("qty") * 100 + 0.5)
            / 100).as("avg_unit_price"))
    },
    Some("""WITH ps AS (
              SELECT l_partkey, l_suppkey,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
              FROM lineitem WHERE l_partkey % 25 = 0
              GROUP BY l_partkey, l_suppkey),
            best AS (
              SELECT * FROM (
                SELECT ps.*, row_number() OVER (PARTITION BY l_partkey
                  ORDER BY cents::DOUBLE / qty, l_suppkey) AS r
                FROM ps) WHERE r = 1)
            SELECT b.l_partkey AS p_partkey, s.s_suppkey, s.s_name,
              n.n_name, b.cents, b.qty,
              floor(b.cents::DOUBLE / b.qty * 100 + 0.5) / 100
                AS avg_unit_price
            FROM best b
            JOIN supplier s ON b.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey"""))

  /** TPC-H Q11 shape (important stock): per-part revenue within one
    * nation's suppliers, kept only where the part's share exceeds a
    * fraction of that nation slice's TOTAL — the HAVING-against-scalar-
    * subquery pattern. Exact integer cents throughout; the total is a
    * 1-row broadcast; the share threshold compares cross-multiplied
    * BIGINTs (cents·10⁴ > total·frac·10⁴ as integers), so membership
    * cannot hang on a float division. */
  val q11ImportantStock = Q(
    "q11_important_stock",
    (s, dir) => {
      val t = Tables(s, dir)
      val li = t.lineitem
        .join(broadcast(t.supplier.select(col("s_suppkey"),
          col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .filter(col("s_nationkey") === 3)
        .groupBy(col("l_partkey"))
        .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .as("cents"))
      val tot = li.agg(sum(col("cents")).as("total_cents"))
      li.crossJoin(broadcast(tot))
        // share > 0.1%: cents * 1000 > total — exact integer compare
        .filter(col("cents") * 1000 > col("total_cents"))
        .select(col("l_partkey"), col("cents"),
          (floor(col("cents").cast("double") / col("total_cents")
            * 1000000 + 0.5) / 1000000).as("share"))
    },
    Some("""WITH li AS (
              SELECT l_partkey,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
              FROM lineitem l
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              WHERE s.s_nationkey = 3
              GROUP BY l_partkey),
            tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM li)
            SELECT l_partkey, cents,
              floor(cents::DOUBLE / t.total_cents * 1000000 + 0.5) / 1000000
                AS share
            FROM li, tot t WHERE cents * 1000 > t.total_cents"""))

  /** first/last/nth_value window battery — the frame-sensitive value
    * functions q_window_rank's ranking battery does not cover:
    * first_value over the default frame, last_value over the FULL
    * partition frame (the default running frame is the classic
    * surprise — it returns the CURRENT row), and nth_value(3). Pinned
    * (ts, event_id) order; %40 user slice. */
  val qWindowValues = Q(
    "q_window_values",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wFull = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      Tables(s, dir).events.filter(col("user_id") < 40)
        .select(col("user_id"), col("event_id"),
          first(col("event_id")).over(w).as("first_ev"),
          last(col("event_id")).over(wFull).as("last_ev"),
          nth_value(col("event_id"), 3).over(wFull).as("third_ev"))
    },
    Some("""SELECT user_id, event_id,
              first_value(event_id) OVER w AS first_ev,
              last_value(event_id) OVER wf AS last_ev,
              nth_value(event_id, 3) OVER wf AS third_ev
            FROM events WHERE user_id < 40
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
              wf AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""))

  /** TPC-H Q7 shape (volume shipping): revenue flowing between two
    * nation PAIRS (supplier nation → customer nation, both directions)
    * by ship year — the two-dimension-join + conditional-pair filter
    * pattern: lineitem joins orders→customer (nation 1) and supplier
    * (nation 2), both dims broadcast; one grouped aggregate. */
  val q7Volume = Q(
    "q7_volume",
    (s, dir) => {
      val t = Tables(s, dir)
      val li = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.customer.select(col("c_custkey"),
          col("c_nationkey").as("cust_nat"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.supplier.select(col("s_suppkey"),
          col("s_nationkey").as("supp_nat"))),
          col("l_suppkey") === col("s_suppkey"))
        // pair (2,3)/(3,2): nation 3 is the one supplier nation present
        // at the sf0.001 smoke scale, so the query is non-empty there too
        .filter((col("supp_nat") === 2 && col("cust_nat") === 3) ||
          (col("supp_nat") === 3 && col("cust_nat") === 2))
      li.groupBy(col("supp_nat"), col("cust_nat"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(r4(dsum(cents(col("l_extendedprice"))
          * (lit(100L) - cents(col("l_discount")))) / 10000.0)
          .as("revenue"), count(lit(1)).as("n_items"))
    },
    Some("""SELECT s.s_nationkey AS supp_nat, c.c_nationkey AS cust_nat,
              CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
              round(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                * (100 - CAST(floor(l.l_discount * 100 + 0.5) AS BIGINT))) / 10000.0, 4)
                AS revenue,
              count(*) AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            WHERE (s.s_nationkey = 2 AND c.c_nationkey = 3)
               OR (s.s_nationkey = 3 AND c.c_nationkey = 2)
            GROUP BY 1, 2, 3"""))

  val q14Promo = Q(
    "q14_promo",
    (s, dir) => {
      val t = Tables(s, dir)
      val li = t.lineitem.filter(
        col("l_shipdate") >= lit("1995-09-01").cast("date") &&
        col("l_shipdate") < lit("1995-10-01").cast("date"))
      // both sums exact BIGINT at 1e4 cents·pct scale; the ratio is ONE
      // double division of exact integers — order-free on both engines
      val rev = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
      li.join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
        .agg(
          r4(dsum(when(col("p_type").startsWith("PROMO"), rev)
              .otherwise(lit(0L))).cast("double") * 100.0
            / dsum(rev).cast("double"))
            .as("promo_revenue_pct"))
    },
    Some("""SELECT round(
              100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                          * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))
                     ELSE 0 END) AS DOUBLE)
              / CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE), 4)
                AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= DATE '1995-09-01'
              AND l_shipdate < DATE '1995-10-01'"""))

  /** TPC-H Q18 shape (large-volume orders): semi join against an
    * AGGREGATED subquery (HAVING sum > threshold) — the filter relation
    * is derived by a groupBy, not a scan, so Catalyst plans agg → join
    * rather than a pushed predicate. The qualifying-order set is tiny →
    * broadcast semi join at any scale. */
  val q18LargeOrders = Q(
    "q18_large_orders",
    (s, dir) => {
      val t = Tables(s, dir)
      // exact cents lane on the threshold too: a raw double sum within an
      // ulp of 150 could flip membership vs the oracle; BIGINT can't
      val big = t.lineitem.groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_quantity"))).as("tq"))
        .filter(col("tq") > 15000L)
        .select(col("l_orderkey").as("bk"))
      t.lineitem
        .join(broadcast(big), col("l_orderkey") === col("bk"), "left_semi")
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("o_totalprice"))
        // per-order qty sums are exact already (integer-valued doubles,
        // ≤ 350 per order); the cents lane makes the invariant structural
        .agg(r4(sum(cents(col("l_quantity"))) / 100.0).as("total_qty"))
        .select(col("c_custkey"), col("o_orderkey"), col("o_orderdate"),
          r4(col("o_totalprice")).as("o_totalprice"), col("total_qty"))
    },
    Some("""SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
              round(o_totalprice, 4) AS o_totalprice,
              round(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0, 4) AS total_qty
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_orderkey IN (
              SELECT l_orderkey FROM lineitem
              GROUP BY l_orderkey
              HAVING sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) > 15000)
            GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice"""))

  /** TPC-H Q21 core shape: correlated NOT EXISTS on the SAME fact table
    * with a key-equality + attribute-INEQUALITY condition — "orders this
    * supplier serves alone". Catalyst plans a null-safe self anti join
    * on orderkey with the suppkey inequality as residual; the self join
    * keys on the uniform orderkey, so it shuffles clean at scale. */
  val qSoloSupplier = Q(
    "q_solo_supplier",
    (s, dir) => {
      val t = Tables(s, dir)
      val l1 = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
      val l2 = l1.select(col("l_orderkey").as("r_orderkey"),
        col("l_suppkey").as("r_suppkey"))
      val solo = l1.join(l2,
          col("l_orderkey") === col("r_orderkey") &&
          col("l_suppkey") =!= col("r_suppkey"),
          "left_anti")
        .distinct()
      solo.join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(countDistinct(col("l_orderkey")).as("n_solo_orders"))
        .orderBy(col("n_solo_orders").desc, col("s_name"))
        .limit(10)
    },
    Some("""SELECT s_name, count(DISTINCT l1.l_orderkey) AS n_solo_orders
            FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
            WHERE NOT EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
            GROUP BY s_name
            ORDER BY n_solo_orders DESC, s_name LIMIT 10"""))

  /** First-order event-transition matrix (Markov chain estimate): lead()
    * pairs each event with the user's next event, then global pair
    * counts and per-source transition probabilities. One shuffle on
    * user_id for the lead, one tiny (#type² rows) aggregate; the
    * probability normalizer is a window over the pair table (no second
    * scan of events). */
  val qTransitions = Q(
    "q_transitions",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = Tables(s, dir).events
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val wt = Window.partitionBy(col("event_type"))
      pairs
        .withColumn("p", r4(col("n").cast("double") / sum(col("n")).over(wt)))
        .select(col("event_type"), col("next_type"), col("n"), col("p"))
    },
    Some("""WITH pairs AS (
              SELECT event_type,
                lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS next_type
              FROM events),
            c AS (SELECT event_type, next_type, count(*) AS n
                  FROM pairs WHERE next_type IS NOT NULL
                  GROUP BY event_type, next_type)
            SELECT event_type, next_type, n,
              round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type), 4) AS p
            FROM c"""))

  /** Per-user modal event type: groupBy counts, then a partial-
    * aggregatable max(struct(n, type)) per user — deterministic ties
    * (greatest type at equal count), no window sort. The oracle takes
    * the row_number form over the same ordering — two engines, two
    * formulations, same argmax. */
  val qMode = Q(
    "q_mode",
    (s, dir) => {
      Tables(s, dir).events
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("event_type"))).as("m"))
        .select(col("user_id"), col("m.event_type").as("mode_type"),
          col("m.n").as("n"))
    },
    Some("""SELECT user_id, event_type AS mode_type, n FROM (
              SELECT user_id, event_type, n,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY n DESC, event_type DESC) AS rn
              FROM (SELECT user_id, event_type, count(*) AS n
                    FROM events GROUP BY user_id, event_type))
            WHERE rn = 1"""))

  /** Grouped ordinary-least-squares fit (price ~ quantity per return
    * flag): regr_slope/intercept/r2 are single-pass partial-aggregatable
    * moment aggregates in both engines — one scan, one #groups-row
    * exchange. The cross-engine check exercises two independent
    * implementations of the same moment algebra. */
  val qRegression = Q(
    "q_regression",
    (s, dir) => {
      // Round-11 fl4 audit: regr_slope/intercept/r2 from EXACT moment
      // sums (cents lanes; per-row products LONG, sums DECIMAL(38,0)).
      // slope and r2 are scale-invariant so the cents scaling cancels;
      // intercept rescales by /100. The float tail is a fixed expression
      // tree over exact integers, spelled identically in the oracle.
      val x = cents(col("l_quantity"))
      val y = cents(col("l_extendedprice"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      Tables(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(dec(x * x)).as("sx2"), sum(dec(y * y)).as("sy2"),
          sum(dec(x * y)).as("sxy"))
        .withColumn("num",
          (col("n") * col("sxy") - dec(col("sx")) * col("sy")).cast("double"))
        .withColumn("ax",
          (col("n") * col("sx2") - dec(col("sx")) * col("sx")).cast("double"))
        .withColumn("ay",
          (col("n") * col("sy2") - dec(col("sy")) * col("sy")).cast("double"))
        .select(
          col("l_returnflag"), col("n"),
          r4(col("num") / col("ax")).as("slope"),
          r4((col("sy").cast("double")
            - col("num") / col("ax") * col("sx").cast("double"))
            / (lit(100L) * col("n")).cast("double")).as("intercept"),
          r4(col("num") * col("num") / (col("ax") * col("ay"))).as("r2"))
    },
    Some("""WITH c AS (
              SELECT l_returnflag,
                CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
                CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
              FROM lineitem),
            a AS (
              SELECT l_returnflag, count(*) AS n,
                sum(x) AS sx, sum(y) AS sy,
                sum(CAST(x * x AS HUGEINT)) AS sx2,
                sum(CAST(y * y AS HUGEINT)) AS sy2,
                sum(CAST(x * y AS HUGEINT)) AS sxy
              FROM c GROUP BY l_returnflag),
            m AS (
              SELECT l_returnflag, n, sx, sy,
                CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) AS num,
                CAST(n * sx2 - CAST(sx AS HUGEINT) * sx AS DOUBLE) AS ax,
                CAST(n * sy2 - CAST(sy AS HUGEINT) * sy AS DOUBLE) AS ay
              FROM a)
            SELECT l_returnflag, n,
              round(num / ax, 4) AS slope,
              round((CAST(sy AS DOUBLE) - num / ax * CAST(sx AS DOUBLE))
                / CAST(100 * n AS DOUBLE), 4) AS intercept,
              round(num * num / (ax * ay), 4) AS r2
            FROM m"""))

  /** Welch two-sample t statistic per event type (variant = user-id
    * parity — the deterministic stand-in for an assignment column).
    * Everything reduces to per-(type, variant) count/mean/variance — one
    * partial agg over one scan, then a #types-row pivot; the t and df
    * formulas are plain column math on the tiny aggregate. */
  val qAbTest = Q(
    "q_ab_test",
    (s, dir) => {
      // Round-11 fl4 audit: mean and sample variance from EXACT integer
      // sums (cents lane; Σc BIGINT, Σc² DECIMAL(38,0)) — the per-group
      // m and v are then single fixed double expressions over exact
      // integers, identical on both engines under any merge order. The
      // Welch t/df tail is pure scalar math on those identical doubles.
      val c = cents(col("value"))
      val stats = Tables(s, dir).events
        .withColumn("variant", pmod(col("user_id"), lit(2)))
        .groupBy(col("event_type"), col("variant"))
        .agg(count(lit(1)).as("cnt"), sum(c).as("sc"),
          sum((c * c).cast("decimal(38,0)")).as("sc2"))
        .select(col("event_type"), col("variant"),
          col("cnt").cast("double").as("n"),
          (col("sc") / (col("cnt") * 100.0)).as("m"),
          ((col("cnt") * col("sc2")
            - col("sc").cast("decimal(38,0)") * col("sc")).cast("double")
            / (col("cnt") * (col("cnt") - 1)).cast("double") / 10000.0).as("v"))
      val wide = stats.groupBy(col("event_type"))
        .agg(
          max(when(col("variant") === 0, col("n"))).as("n_a"),
          max(when(col("variant") === 0, col("m"))).as("m_a"),
          max(when(col("variant") === 0, col("v"))).as("v_a"),
          max(when(col("variant") === 1, col("n"))).as("n_b"),
          max(when(col("variant") === 1, col("m"))).as("m_b"),
          max(when(col("variant") === 1, col("v"))).as("v_b"))
      val se2 = col("v_a") / col("n_a") + col("v_b") / col("n_b")
      wide.select(
        col("event_type"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        r4(col("m_a") - col("m_b")).as("mean_diff"),
        r4((col("m_a") - col("m_b")) / sqrt(se2)).as("t_stat"),
        r4(pow(se2, 2) / (
          pow(col("v_a") / col("n_a"), 2) / (col("n_a") - 1) +
          pow(col("v_b") / col("n_b"), 2) / (col("n_b") - 1))).as("welch_df"))
    },
    Some("""WITH e AS (
              SELECT event_type, user_id % 2 AS variant,
                CAST(floor(value * 100 + 0.5) AS BIGINT) AS q
              FROM events),
            s AS (
              SELECT event_type, variant,
                CAST(count(*) AS DOUBLE) AS n,
                sum(q) / (count(*) * 100.0) AS m,
                CAST(count(*) * sum(CAST(q * q AS HUGEINT))
                    - CAST(sum(q) AS HUGEINT) * sum(q) AS DOUBLE)
                  / CAST(count(*) * (count(*) - 1) AS DOUBLE) / 10000.0 AS v
              FROM e GROUP BY event_type, variant),
            w AS (
              SELECT event_type,
                max(CASE WHEN variant = 0 THEN n END) AS n_a,
                max(CASE WHEN variant = 0 THEN m END) AS m_a,
                max(CASE WHEN variant = 0 THEN v END) AS v_a,
                max(CASE WHEN variant = 1 THEN n END) AS n_b,
                max(CASE WHEN variant = 1 THEN m END) AS m_b,
                max(CASE WHEN variant = 1 THEN v END) AS v_b
              FROM s GROUP BY event_type)
            SELECT event_type,
              CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
              round(m_a - m_b, 4) AS mean_diff,
              round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_stat,
              round(pow(v_a / n_a + v_b / n_b, 2) / (
                  pow(v_a / n_a, 2) / (n_a - 1)
                + pow(v_b / n_b, 2) / (n_b - 1)), 4) AS welch_df
            FROM w"""))

  /** Exact heavy hitters via the Misra–Gries candidate pass
    * (`ops.HeavyHitters` + native `plans.MgSketch` aggregate): sketch →
    * ≤k candidate keys → exact recount of candidates only (broadcast
    * join; the corpus is never shuffled, and no full per-key table is
    * ever built). k=128 over ~300 distinct keys exercises real counter
    * eviction; the result is provably EXACT, so the oracle is the plain
    * GROUP BY / HAVING. */
  val qHeavyHitters = Q(
    "q_heavy_hitters",
    (s, dir) => {
      val keyed = Tables(s, dir).events
        .select(floor(col("value")).cast("long").as("vkey"))
      graft.ops.HeavyHitters.exact(keyed, "vkey", phi = 0.01, k = 128)
    },
    Some("""SELECT CAST(floor(value) AS BIGINT) AS vkey, count(*) AS cnt
            FROM events
            GROUP BY 1
            HAVING count(*) > 0.01 * CAST((SELECT count(*) FROM events) AS DOUBLE)"""))

  /** SCD type-2 dimension reconstruction from a change log: each change
    * opens a validity interval closed by the user's next change
    * (lead()); the latest row per key is current. One shuffle on the
    * key serves the single window — the complement of `q_cdc_snapshot`
    * (which keeps only the latest): this keeps full history queryable
    * by validity range. */
  val qScd2 = Q(
    "q_scd2",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables(s, dir).events
        .select(col("user_id"), col("event_id"), col("value"), col("ts"))
        .withColumn("valid_from", graft.model.Msg.epochUs(col("ts")))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .select(
          col("user_id"), col("event_id"), col("value"), col("valid_from"),
          coalesce(graft.model.Msg.epochUs(col("next_ts")), lit(-1L)).as("valid_to"),
          col("next_ts").isNull.as("is_current"))
    },
    Some("""SELECT user_id, event_id, value,
              epoch_us(ts) AS valid_from,
              coalesce(lead(epoch_us(ts), 1) OVER w, -1) AS valid_to,
              (lead(ts, 1) OVER w) IS NULL AS is_current
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""))

  // -----------------------------------------------------------
  // registry
  // -----------------------------------------------------------

  /** Triangle count over the customer co-purchase graph (customers joined
    * by having bought the same part; partkeys sampled 1-in-50 to keep the
    * graph sparse — each part's buyer set is a clique, so triangles are
    * plentiful without the graph densifying into K_n). The operator is
    * [[graft.graph.Graph.triangles]] (degree-ordered orientation — see
    * there for the skew-proof scale argument); the oracle unrolls the
    * same count as the classic three-way canonical-edge self-join. Emits
    * (edges, triangles) so the oracle also pins the graph itself. */
  val qTriangles = Q(
    "q_triangles",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 50 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"), col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
        // two consumers (the triangle pipeline AND the edge count) —
        // without this the buyers self-join + distinct runs twice
        .localCheckpoint()
      val tris = graft.graph.Graph.triangles(edges)
      edges.agg(count(lit(1)).as("edges"))
        .crossJoin(tris.agg(count(lit(1)).as("triangles")))
    },
    Some("""WITH buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 50 = 0),
            e AS (
              SELECT DISTINCT b1.c AS a, b2.c AS b
              FROM buyers b1 JOIN buyers b2 ON b1.p = b2.p AND b1.c < b2.c),
            tri AS (
              SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
              FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
            SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS edges,
                   CAST(count(*) AS BIGINT) AS triangles
            FROM tri"""))

  /** Local clustering coefficient over a sparser co-purchase graph
    * (partkeys 1-in-100 — half q_triangles' graph, since this query pays
    * the triangle listing AND a per-node rollup). coef quantizes fl4 on
    * both engines; the 2·T/(d·(d−1)) arithmetic is explicit DOUBLE in the
    * oracle (a bare `2.0` literal is DECIMAL in DuckDB and would divide
    * under decimal semantics). */
  val qClusteringCoef = Q(
    "q_clustering_coef",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 100 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"), col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      graft.graph.Graph.clusteringCoefficient(edges)
        .select(col("n"), col("degree"), col("tri_count"),
          fl4(col("coef")).as("coef"))
    },
    Some("""WITH buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 100 = 0),
            e AS (
              SELECT DISTINCT b1.c AS a, b2.c AS b
              FROM buyers b1 JOIN buyers b2 ON b1.p = b2.p AND b1.c < b2.c),
            deg AS (
              SELECT n, count(*) AS degree
              FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
              GROUP BY n),
            tri AS (
              SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
              FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
            tpn AS (
              SELECT n, CAST(count(*) AS BIGINT) AS tri_count
              FROM (SELECT n1 AS n FROM tri
                    UNION ALL SELECT n2 FROM tri
                    UNION ALL SELECT n3 FROM tri)
              GROUP BY n)
            SELECT d.n, d.degree, coalesce(t.tri_count, 0) AS tri_count,
              CASE WHEN d.degree >= 2
                THEN floor(CAST(2.0 AS DOUBLE) * coalesce(t.tri_count, 0)
                       / (d.degree * (d.degree - 1)) * 10000 + 0.5) / 10000
                ELSE 0.0 END AS coef
            FROM deg d LEFT JOIN tpn t ON d.n = t.n"""))

  /** Weakly-connected components over a same-nation co-purchase graph
    * (customers linked when they bought the same 1-in-100 part AND share
    * a nation — the nation restriction partitions the graph into 25
    * disconnected islands, which both bounds component sizes by
    * construction and keeps the oracle's recursive closure quadratic in
    * ISLAND size, not graph size). The operator is
    * [[graft.graph.Graph.connectedComponents]] (min-label propagation,
    * one uniform shuffle per round, observed-metric convergence — see
    * there for the scale argument); the oracle computes the same
    * component = min-reachable-id labeling as a recursive-CTE transitive
    * closure. Emits every node with its component id, so the oracle pins
    * the full assignment, not just component counts. */
  val qConnectedComponents = Q(
    "q_connected_components",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 100 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c"),
          col("c_nationkey").as("nk"))
        .distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"),
          col("b1.p") === col("b2.p") && col("b1.nk") === col("b2.nk")
            && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      val nodes = buyers.select(col("c").as("id")).distinct()
      graft.graph.Graph.connectedComponents(nodes, edges)
    },
    Some("""WITH RECURSIVE buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c,
                     cu.c_nationkey AS nk
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer cu ON o.o_custkey = cu.c_custkey
              WHERE l.l_partkey % 100 = 0),
            e AS (
              SELECT DISTINCT b1.c AS src, b2.c AS dst
              FROM buyers b1
              JOIN buyers b2 ON b1.p = b2.p AND b1.nk = b2.nk
                            AND b1.c <> b2.c),
            reach(id, lbl) AS (
              SELECT DISTINCT c, c FROM buyers
              UNION
              SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id)
            SELECT id, min(lbl) AS component FROM reach GROUP BY id"""))

  /** Multi-source BFS over the 1-in-200 co-purchase graph: hop distance
    * from the nation-1 customer seed set, capped at 4 hops. The operator
    * is [[graft.graph.Graph.hopDistance]] (frontier-only expansion → O(E)
    * total join work across all rounds); the fixed cap makes the result
    * deterministic on both engines regardless of convergence, and the
    * oracle's recursive CTE carries (id, dist) pairs whose UNION dedup
    * bounds recursion at nodes × maxHops rows. Unreachable nodes are
    * absent from both sides. */
  val qBfsHops = Q(
    "q_bfs_hops",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 200 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"),
          col("b1.p") === col("b2.p") && col("b1.c") =!= col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      val seeds = buyers
        .join(t.customer, col("c") === col("c_custkey"))
        .filter(col("c_nationkey") === 1)
        .select(col("c").as("id")).distinct()
      graft.graph.Graph.hopDistance(seeds, edges, maxHops = 4)
    },
    Some("""WITH RECURSIVE buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 200 = 0),
            e AS (
              SELECT DISTINCT b1.c AS src, b2.c AS dst
              FROM buyers b1
              JOIN buyers b2 ON b1.p = b2.p AND b1.c <> b2.c),
            d(id, dist) AS (
              SELECT DISTINCT b.c, 0
              FROM buyers b JOIN customer cu ON b.c = cu.c_custkey
              WHERE cu.c_nationkey = 1
              UNION
              SELECT e.dst, d.dist + 1
              FROM d JOIN e ON e.src = d.id
              WHERE d.dist < 4)
            SELECT id, CAST(min(dist) AS BIGINT) AS hops
            FROM d GROUP BY id"""))

  /** Weighted shortest paths over the 1-in-200 co-purchase graph from
    * the nation-1 seed set: edge weight 1 + (src + dst) % 5 (a
    * deterministic function of the endpoints, so DISTINCT on (src, dst)
    * pins the weighted edge set too), 6 relaxation rounds. The operator
    * is [[graft.graph.Graph.shortestPaths]] — after round r the dist
    * relation is exactly the ≤ r-edge path minima, so the oracle's
    * round-bounded recursive CTE matches whether or not the loop
    * converged early. All arithmetic is BIGINT — nothing floats. */
  val qSssp = Q(
    "q_sssp",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 200 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"),
          col("b1.p") === col("b2.p") && col("b1.c") =!= col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
        .select(col("src"), col("dst"),
          (lit(1L) + (col("src") + col("dst")) % 5).as("w"))
      val seeds = buyers
        .join(t.customer, col("c") === col("c_custkey"))
        .filter(col("c_nationkey") === 1)
        .select(col("c").as("id")).distinct()
      graft.graph.Graph.shortestPaths(seeds, edges, maxRounds = 6)
    },
    Some("""WITH RECURSIVE buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 200 = 0),
            e AS (
              SELECT DISTINCT b1.c AS src, b2.c AS dst
              FROM buyers b1
              JOIN buyers b2 ON b1.p = b2.p AND b1.c <> b2.c),
            ew AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM e),
            d(id, dist, r) AS (
              SELECT DISTINCT b.c, CAST(0 AS BIGINT), 0
              FROM buyers b JOIN customer cu ON b.c = cu.c_custkey
              WHERE cu.c_nationkey = 1
              UNION
              SELECT ew.dst, d.dist + ew.w, d.r + 1
              FROM d JOIN ew ON ew.src = d.id
              WHERE d.r < 6)
            SELECT id, CAST(min(dist) AS BIGINT) AS dist
            FROM d GROUP BY id"""))

  /** Semi-supervised label propagation: every 10th customer in the
    * 1-in-200 co-purchase graph is seeded with its nation; two
    * synchronous rounds of majority-vote spread (ties → smallest label,
    * seeds clamped) label the rest of the graph. The operator is
    * [[graft.graph.Graph.labelPropagate]]; the oracle unrolls BOTH
    * rounds as vote → argmax (row_number with the same cnt-desc,
    * label-asc tiebreak) → coalesce(seed, winner, previous) CTE chains,
    * so every propagated label is pinned, not just counts. */
  val qLabelProp = Q(
    "q_label_prop",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 200 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"),
          col("b1.p") === col("b2.p") && col("b1.c") =!= col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      val nodes = buyers.select(col("c").as("id")).distinct()
      val seeds = nodes.filter(col("id") % 10 === 0)
        .join(t.customer, col("id") === col("c_custkey"))
        .select(col("id"), col("c_nationkey").as("label"))
      graft.graph.Graph.labelPropagate(nodes, seeds, edges, iters = 2)
    },
    Some("""WITH buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 200 = 0),
            e AS (
              SELECT DISTINCT b1.c AS src, b2.c AS dst
              FROM buyers b1
              JOIN buyers b2 ON b1.p = b2.p AND b1.c <> b2.c),
            nodes AS (SELECT DISTINCT c AS id FROM buyers),
            seeds AS (
              SELECT n.id, cu.c_nationkey AS lbl
              FROM nodes n JOIN customer cu ON n.id = cu.c_custkey
              WHERE n.id % 10 = 0),
            v1 AS (
              SELECT e.src AS id, l.lbl, count(*) AS cnt
              FROM e JOIN seeds l ON e.dst = l.id
              GROUP BY e.src, l.lbl),
            w1 AS (
              SELECT id, lbl FROM v1
              QUALIFY row_number() OVER (
                PARTITION BY id ORDER BY cnt DESC, lbl ASC) = 1),
            lab1 AS (
              SELECT n.id, coalesce(s.lbl, w.lbl) AS lbl
              FROM nodes n
              LEFT JOIN seeds s ON n.id = s.id
              LEFT JOIN w1 w ON n.id = w.id
              WHERE coalesce(s.lbl, w.lbl) IS NOT NULL),
            v2 AS (
              SELECT e.src AS id, l.lbl, count(*) AS cnt
              FROM e JOIN lab1 l ON e.dst = l.id
              GROUP BY e.src, l.lbl),
            w2 AS (
              SELECT id, lbl FROM v2
              QUALIFY row_number() OVER (
                PARTITION BY id ORDER BY cnt DESC, lbl ASC) = 1),
            lab2 AS (
              SELECT n.id,
                     coalesce(s.lbl, w.lbl, p.lbl) AS lbl
              FROM nodes n
              LEFT JOIN seeds s ON n.id = s.id
              LEFT JOIN w2 w ON n.id = w.id
              LEFT JOIN lab1 p ON n.id = p.id
              WHERE coalesce(s.lbl, w.lbl, p.lbl) IS NOT NULL)
            SELECT id, lbl AS label FROM lab2"""))

  /** Frequent itemset mining, the 2-itemset (market-basket) tier:
    * co-purchased part pairs with support ≥ 2 orders, scored by lift =
    * N·c(a,b)/(c(a)·c(b)). Baskets are bounded (TPC-H orders hold ≤ 7
    * lines), so the pair self-join fans out O(basket²) per order — a
    * constant — and the heavy lifting is two partial-aggregatable
    * counts; no Apriori candidate explosion is possible at the pair
    * tier. Lift arithmetic: exact BIGINT counts, one double division,
    * fl4-quantized on both engines. */
  val qItemsets = Q(
    "q_itemsets",
    (s, dir) => {
      val b = Tables(s, dir).lineitem
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        // four consumers (order count, item counts, both self-join
        // sides): materialize the distinct basket relation once
        .localCheckpoint()
      val nOrders = b.select(col("o")).distinct().count() // driver scalar
      val item = b.groupBy(col("p")).agg(count(lit(1)).as("c"))
      val pairs = b.as("b1")
        .join(b.as("b2"), col("b1.o") === col("b2.o") && col("b1.p") < col("b2.p"))
        .groupBy(col("b1.p").as("pa"), col("b2.p").as("pb"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
      pairs
        .join(item.select(col("p").as("pa"), col("c").as("ca")), "pa")
        .join(item.select(col("p").as("pb"), col("c").as("cb")), "pb")
        .select(col("pa"), col("pb"), col("support"),
          fl4(lit(nOrders) * col("support")
            / (col("ca") * col("cb")).cast("double")).as("lift"))
    },
    Some("""WITH b AS (
              SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
            n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM b),
            item AS (
              SELECT p, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY p),
            pair AS (
              SELECT b1.p AS pa, b2.p AS pb,
                     CAST(count(*) AS BIGINT) AS support
              FROM b b1 JOIN b b2 ON b1.o = b2.o AND b1.p < b2.p
              GROUP BY b1.p, b2.p HAVING count(*) >= 2)
            SELECT pr.pa, pr.pb, pr.support,
                   floor(n.n_orders * pr.support
                     / CAST(ia.c * ib.c AS DOUBLE) * 10000 + 0.5) / 10000
                     AS lift
            FROM pair pr
            JOIN item ia ON pr.pa = ia.p
            JOIN item ib ON pr.pb = ib.p
            CROSS JOIN n"""))

  /** Marketing attribution: each purchase credits its FIRST and LAST
    * touch (click/view) in the preceding 7 days. Formulated as an
    * equality join on user plus a time-range predicate (per-user event
    * streams are bounded, so the hash join on user_id never explodes),
    * then one argmin/argmax pass with an explicit (ts, event_id)
    * tiebreak — a RANGE window can't express this deterministically
    * (single ORDER BY expression, unspecified order among time ties);
    * the join form pins every credited touch. */
  val qAttribution = Q(
    "q_attribution",
    (s, dir) => {
      val e = Tables(s, dir).events
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.model.Msg.epochUs(col("ts")).as("us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("us"))
      val touches = e.filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("tu"), col("event_id").as("tid"),
          col("event_type").as("ttype"), col("us").as("tus"))
      val window = 604800000000L // 7 days in µs
      val joined = purchases.join(touches,
        col("user_id") === col("tu")
          && col("tus") < col("us") && col("tus") >= col("us") - window)
      val credited = joined.groupBy(col("event_id"))
        .agg(
          min(struct(col("tus"), col("tid"), col("ttype"))).as("ft"),
          max(struct(col("tus"), col("tid"), col("ttype"))).as("lt"))
        .select(col("event_id").as("je"),
          col("ft.tid").as("ft_id"), col("ft.ttype").as("ft_type"),
          col("lt.tid").as("lt_id"), col("lt.ttype").as("lt_type"))
      purchases.join(credited, col("event_id") === col("je"), "left")
        .select(col("event_id"), col("user_id"),
          col("ft_id"), col("ft_type"), col("lt_id"), col("lt_type"))
    },
    Some("""WITH e AS (
              SELECT event_id, user_id, event_type, epoch_us(ts) AS us
              FROM events),
            p AS (
              SELECT event_id, user_id, us FROM e
              WHERE event_type = 'purchase'),
            t AS (
              SELECT user_id AS tu, event_id AS tid,
                     event_type AS ttype, us AS tus
              FROM e WHERE event_type IN ('click', 'view')),
            j AS (
              SELECT p.event_id, p.user_id, t.tid, t.ttype, t.tus
              FROM p JOIN t ON p.user_id = t.tu
                AND t.tus < p.us AND t.tus >= p.us - 604800000000),
            ft AS (
              SELECT event_id, tid AS ft_id, ttype AS ft_type FROM j
              QUALIFY row_number() OVER (
                PARTITION BY event_id ORDER BY tus ASC, tid ASC) = 1),
            lt AS (
              SELECT event_id, tid AS lt_id, ttype AS lt_type FROM j
              QUALIFY row_number() OVER (
                PARTITION BY event_id ORDER BY tus DESC, tid DESC) = 1)
            SELECT p.event_id, p.user_id,
                   f.ft_id, f.ft_type, l.lt_id, l.lt_type
            FROM p
            LEFT JOIN ft f ON p.event_id = f.event_id
            LEFT JOIN lt l ON p.event_id = l.event_id"""))

  /** Degree assortativity of the co-purchase graph (Newman 2002): the
    * Pearson correlation of endpoint degrees over (both orientations
    * of) the edge list. Computed from EXACT integer sufficient
    * statistics — n, Σx, Σy, Σxy, Σx², Σy² as BIGINTs (degrees are
    * small; the sums fit with orders of magnitude to spare) — with the
    * single double-precision correlation formula applied to those
    * exact inputs at the end, so no float summation order exists for
    * partial aggregation to perturb (a plain corr() would be the
    * q_kmeans_step flake all over again). */
  val qAssortativity = Q(
    "q_assortativity",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 100 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"), col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("a"), col("b2.c").as("b")).distinct()
      val both = edges.unionByName(
        edges.select(col("b").as("a"), col("a").as("b")))
      val deg = both.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
      val xy = both
        .join(deg.select(col("n").as("a"), col("d").as("x")), "a")
        .join(deg.select(col("n").as("b"), col("d").as("y")), "b")
      val st = xy.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      st.select(col("n"),
        fl4((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("assortativity"))
    },
    Some("""WITH buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 100 = 0),
            e AS (
              SELECT DISTINCT b1.c AS a, b2.c AS b
              FROM buyers b1
              JOIN buyers b2 ON b1.p = b2.p AND b1.c < b2.c),
            both_e AS (
              SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
            deg AS (
              SELECT a AS n, CAST(count(*) AS BIGINT) AS d
              FROM both_e GROUP BY a),
            xy AS (
              SELECT da.d AS x, db.d AS y
              FROM both_e
              JOIN deg da ON both_e.a = da.n
              JOIN deg db ON both_e.b = db.n),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM xy)
            SELECT n,
                   floor(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                     * 10000 + 0.5) / 10000 AS assortativity
            FROM st"""))

  /** k-core of the co-purchase graph (k = 30): the maximal subgraph
    * where every customer keeps ≥ 30 co-purchase neighbors — the
    * community-core / link-farm density tier. Spark peels to the
    * fixpoint ([[graft.graph.Graph.kCore]]); the oracle unrolls EIGHT
    * peel rounds (measured fixpoint depth on this graph is 3 at both
    * gate SFs — 8 is a 2.5× margin, and extra rounds past the fixpoint
    * are no-ops, so equality checks the fixpoint itself). Emits each
    * surviving node with its within-core degree. */
  val qKcore = Q(
    "q_kcore",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 100 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"), col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      graft.graph.Graph.kCore(edges, k = 30)
    },
    Some {
      // unrolled peel: nodes_i = nodes of within-(nodes_{i-1}) degree ≥ k.
      // every CTE is MATERIALIZED — each is referenced 2-4 times, and the
      // default inlining re-expands the whole chain (and re-opens the
      // parquet scans) exponentially per round
      val rounds = (1 to 8).map { i =>
        val prev = if (i == 1) "nodes0" else s"nodes${i - 1}"
        s"""deg$i AS MATERIALIZED (
           |  SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
           |    SELECT e.a AS n FROM e
           |    JOIN $prev na ON e.a = na.n JOIN $prev nb ON e.b = nb.n
           |    UNION ALL
           |    SELECT e.b FROM e
           |    JOIN $prev na ON e.a = na.n JOIN $prev nb ON e.b = nb.n)
           |  GROUP BY n),
           |nodes$i AS MATERIALIZED (SELECT n FROM deg$i WHERE d >= 30)""".stripMargin
      }.mkString(",\n")
      s"""WITH buyers AS MATERIALIZED (
         |  SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE l.l_partkey % 100 = 0),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT b1.c AS a, b2.c AS b
         |  FROM buyers b1 JOIN buyers b2 ON b1.p = b2.p AND b1.c < b2.c),
         |nodes0 AS MATERIALIZED (SELECT a AS n FROM e UNION SELECT b FROM e),
         |$rounds
         |SELECT d.n AS id, d.d AS core_degree
         |FROM deg8 d JOIN nodes8 s ON d.n = s.n""".stripMargin
    })

  /** Personalized PageRank (3 iterations, d = 0.85) on the same
    * customer–supplier purchase graph as q_pagerank, teleporting to the
    * nation-1 customers — "authority relative to a trusted seed set"
    * (TrustRank-style). Identical per-iteration plan and explicit-DOUBLE
    * arithmetic conventions as q_pagerank; the oracle unrolls the three
    * iterations with the restart vector in every round's teleport term.
    * Emits every node (no top-k → no selection boundary to flip). */
  val qPprTrust = Q(
    "q_ppr_trust",
    (s, dir) => {
      val t = Tables(s, dir)
      val raw = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), (-(col("l_suppkey") + 1)).as("dst"))
      val seeds = t.customer.filter(col("c_nationkey") === 1)
        .select(col("c_custkey").as("id"))
      graft.graph.Graph.personalizedPageRank(
        graft.graph.Graph.undirected(raw), seeds, iters = 3)
        .select(col("id"), r4(col("pr") * 1000).as("pr_x1000"))
    },
    Some("""WITH eb AS (
              SELECT DISTINCT o_custkey AS src, -(l_suppkey + 1) AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            e AS (SELECT src, dst FROM eb UNION SELECT dst, src FROM eb),
            deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
            ew AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / outdeg AS w
                   FROM e JOIN deg USING (src)),
            nodes AS (SELECT src AS id FROM deg),
            sd AS (SELECT DISTINCT n.id FROM nodes n
                   JOIN customer c ON n.id = c.c_custkey
                   WHERE c.c_nationkey = 1),
            ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM sd),
            rst AS (SELECT n.id,
                      CASE WHEN s.id IS NOT NULL
                        THEN CAST(1.0 AS DOUBLE) / (SELECT ns FROM ns)
                        ELSE CAST(0.0 AS DOUBLE) END AS r
                    FROM nodes n LEFT JOIN sd s ON n.id = s.id),
            p0 AS (SELECT id, r AS pr FROM rst),
            p1 AS (SELECT r.id,
                     (CAST(1.0 AS DOUBLE) - 0.85) * r.r
                       + 0.85 * coalesce(c.s, CAST(0.0 AS DOUBLE)) AS pr
                   FROM rst r LEFT JOIN (
                     SELECT ew.dst, sum(p0.pr * ew.w) AS s
                     FROM ew JOIN p0 ON p0.id = ew.src GROUP BY ew.dst) c
                   ON r.id = c.dst),
            p2 AS (SELECT r.id,
                     (CAST(1.0 AS DOUBLE) - 0.85) * r.r
                       + 0.85 * coalesce(c.s, CAST(0.0 AS DOUBLE)) AS pr
                   FROM rst r LEFT JOIN (
                     SELECT ew.dst, sum(p1.pr * ew.w) AS s
                     FROM ew JOIN p1 ON p1.id = ew.src GROUP BY ew.dst) c
                   ON r.id = c.dst),
            p3 AS (SELECT r.id,
                     (CAST(1.0 AS DOUBLE) - 0.85) * r.r
                       + 0.85 * coalesce(c.s, CAST(0.0 AS DOUBLE)) AS pr
                   FROM rst r LEFT JOIN (
                     SELECT ew.dst, sum(p2.pr * ew.w) AS s
                     FROM ew JOIN p2 ON p2.id = ew.src GROUP BY ew.dst) c
                   ON r.id = c.dst)
            SELECT id, round(pr * 1000, 4) AS pr_x1000 FROM p3"""))

  /** Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg
    * 2003): for every NON-edge pair with ≥ 3 common neighbors in the
    * co-purchase graph, the common-neighbor count and the neighborhood
    * Jaccard — the classic "who should be connected" recommender
    * signals. Candidates come from the wedge join (pairs sharing a
    * neighbor), never all-pairs; existing edges are removed with an
    * anti join; Jaccard = cn/(dx+dy−cn) is one double division over
    * exact BIGINT counts, fl4-quantized. Wedge fan-out is Σdeg² —
    * bounded here by the clique-sized buyer groups; a hub-skewed graph
    * would cap per-node neighbor lists first (the standard top-deg
    * truncation), which drops only candidates a hub would swamp
    * anyway. */
  val qLinkPredict = Q(
    "q_link_predict",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 100 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val e = buyers.as("b1")
        .join(buyers.as("b2"), col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("a"), col("b2.c").as("b")).distinct()
        .localCheckpoint() // feeds the wedge join (twice via und), the
                           // anti join and the degree table
      val und = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      val deg = und.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
      val wedge = und.as("u1")
        .join(und.as("u2"), col("u1.a") === col("u2.a") && col("u1.b") < col("u2.b"))
        .groupBy(col("u1.b").as("x"), col("u2.b").as("y"))
        .agg(count(lit(1)).as("cn"))
      val nonedge = wedge
        .join(e, col("x") === col("a") && col("y") === col("b"), "left_anti")
        .filter(col("cn") >= 3)
      nonedge
        .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
        .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
        .select(col("x"), col("y"), col("cn"),
          fl4(col("cn").cast("double")
            / (col("dx") + col("dy") - col("cn")).cast("double")).as("jaccard"))
    },
    Some("""WITH buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 100 = 0),
            e AS (
              SELECT DISTINCT b1.c AS a, b2.c AS b
              FROM buyers b1
              JOIN buyers b2 ON b1.p = b2.p AND b1.c < b2.c),
            und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
            deg AS (
              SELECT a AS n, CAST(count(*) AS BIGINT) AS d
              FROM und GROUP BY a),
            wedge AS (
              SELECT u1.b AS x, u2.b AS y, CAST(count(*) AS BIGINT) AS cn
              FROM und u1 JOIN und u2 ON u1.a = u2.a AND u1.b < u2.b
              GROUP BY u1.b, u2.b),
            nonedge AS (
              SELECT w.x, w.y, w.cn FROM wedge w
              LEFT JOIN e ON w.x = e.a AND w.y = e.b
              WHERE e.a IS NULL AND w.cn >= 3)
            SELECT ne.x, ne.y, ne.cn,
                   floor(CAST(ne.cn AS DOUBLE)
                     / CAST(dx.d + dy.d - ne.cn AS DOUBLE)
                     * 10000 + 0.5) / 10000 AS jaccard
            FROM nonedge ne
            JOIN deg dx ON ne.x = dx.n
            JOIN deg dy ON ne.y = dy.n"""))

  /** k-truss (k = 35) of the co-purchase graph: the maximal subgraph
    * where every co-purchase edge closes ≥ 33 triangles — the
    * community-core tier that degree alone can't fake (q_kcore bounds
    * degree; this bounds mutual reinforcement). Spark peels edge
    * support to the fixpoint ([[graft.graph.Graph.kTruss]], the
    * skew-proof oriented triangle count per round); the oracle unrolls
    * SIX peel rounds (measured fixpoint depth is 3 at both gate SFs —
    * 6 is a 2× margin, and rounds past the fixpoint are no-ops, so
    * equality checks the fixpoint itself). Emits each surviving edge
    * with its within-truss support. */
  val qKtruss = Q(
    "q_ktruss",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 100 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"), col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      graft.graph.Graph.kTruss(edges, k = 35)
    },
    Some {
      // unrolled peel: e_i = edges of within-(e_{i-1}) support ≥ k−2.
      // every CTE is MATERIALIZED — tri_i is referenced three times and
      // the default inlining re-expands the whole prior chain (and
      // re-opens the parquet scans) exponentially per round
      val rounds = (1 to 6).map { i =>
        val prev = if (i == 1) "e0" else s"e${i - 1}"
        s"""tri$i AS MATERIALIZED (
           |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |  FROM $prev e1 JOIN $prev e2 ON e1.a = e2.a AND e1.b < e2.b
           |  JOIN $prev e3 ON e3.a = e1.b AND e3.b = e2.b),
           |sup$i AS MATERIALIZED (
           |  SELECT a, b, CAST(count(*) AS BIGINT) AS support FROM (
           |    SELECT x AS a, y AS b FROM tri$i
           |    UNION ALL SELECT x AS a, z AS b FROM tri$i
           |    UNION ALL SELECT y AS a, z AS b FROM tri$i) u
           |  GROUP BY a, b),
           |e$i AS MATERIALIZED (SELECT a, b FROM sup$i WHERE support >= 33)""".stripMargin
      }.mkString(",\n")
      s"""WITH buyers AS MATERIALIZED (
         |  SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE l.l_partkey % 100 = 0),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT b1.c AS a, b2.c AS b
         |  FROM buyers b1 JOIN buyers b2 ON b1.p = b2.p AND b1.c < b2.c),
         |$rounds
         |SELECT a, b, support FROM sup6 WHERE support >= 33""".stripMargin
    })

  /** Hop-bounded harmonic centrality (H = 3) of the co-purchase graph:
    * per customer, Σ 1/d(u,v) over the customers within 3 hops — the
    * teleport-free authority ranking. Spark runs the pair-state BFS
    * ([[graft.graph.Graph.harmonicCentrality]]) with contributions
    * summed as exact lcm-scaled BIGINTs (6/d ∈ {6,3,2}); the oracle
    * unrolls the three frontier hops as MATERIALIZED min-distance
    * CTEs and applies the same integer-sum-then-one-division
    * derivation. Emits (id, reached, fl4 harmonic). */
  val qHarmonic = Q(
    "q_harmonic",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 500 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"), col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      graft.graph.Graph
        .harmonicCentrality(graft.graph.Graph.undirected(edges), maxHops = 3)
        .select(col("id"), col("reached"), fl4(col("harmonic")).as("harmonic"))
    },
    Some {
      // unrolled pair-state BFS: d_h = min(d_{h-1}, frontier_{h-1} ⋈ und).
      // every CTE is MATERIALIZED — each d_h is referenced twice (carry +
      // frontier) and the default inlining re-expands the whole chain
      val hops = (1 to 3).map { h =>
        s"""d$h AS MATERIALIZED (
           |  SELECT s, v, min(h) AS h FROM (
           |    SELECT s, v, h FROM d${h - 1}
           |    UNION ALL
           |    SELECT f.s, und.b AS v, $h AS h
           |    FROM d${h - 1} f JOIN und ON f.v = und.a AND f.h = ${h - 1}) u
           |  GROUP BY s, v)""".stripMargin
      }.mkString(",\n")
      s"""WITH buyers AS MATERIALIZED (
         |  SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE l.l_partkey % 500 = 0),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT b1.c AS a, b2.c AS b
         |  FROM buyers b1 JOIN buyers b2 ON b1.p = b2.p AND b1.c < b2.c),
         |und AS MATERIALIZED (
         |  SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         |d0 AS MATERIALIZED (
         |  SELECT DISTINCT a AS s, a AS v, 0 AS h FROM und),
         |$hops
         |SELECT v AS id, CAST(count(*) AS BIGINT) AS reached,
         |       floor(CAST(sum(CAST(6 / h AS BIGINT)) AS DOUBLE)
         |         / CAST(6.0 AS DOUBLE) * 10000 + 0.5) / 10000 AS harmonic
         |FROM d3 WHERE h >= 1 GROUP BY v""".stripMargin
    })

  /** UNBOUNDED-hop harmonic centrality of the same co-purchase graph via
    * HyperBall ([[graft.graph.Graph.harmonicCentralityHyperBall]]) —
    * the production sibling of [[qHarmonic]]: where the exact pair-state
    * BFS carries O(sources · nodes) state (linear in source count by
    * design — its decade slope ≈ the data ratio), HyperBall carries one
    * 256-register portable-md5 HLL ball sketch per node, one
    * (node, bucket)-keyed shuffle per round regardless of source count,
    * and runs to the register FIXPOINT (true unbounded-hop centrality)
    * under a 10-round cap. The estimate is digit-portable (md5 registers,
    * exact-integer Σ2^(−M_j), index-ordered final fold), so the oracle
    * unrolls the identical 10 register rounds and reproduces the
    * ESTIMATE itself — post-fixpoint rounds change no register, so the
    * capped unroll equals Spark's early-exit exactly. ln appears only in
    * the linear-counting branch (the repo's usual output-position
    * transcendental, fl4-quantized like q_hll). Emits (id, fl4 reached
    * estimate, fl4 harmonic estimate). */
  val qHarmonicHb = Q(
    "q_harmonic_hb",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 500 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c")).distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"), col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      graft.graph.Graph
        .harmonicCentralityHyperBall(
          // allowTruncation: this query's CONTRACT is the capped unroll —
          // the oracle replays exactly 10 register rounds, which equals
          // Spark's early-exit whether or not the fixpoint lands inside
          // the cap, so truncation here is defined semantics, not an
          // undercount (library default throws instead — r17 advice)
          graft.graph.Graph.undirected(edges), maxHops = 10,
          allowTruncation = true)
        .select(col("id"), fl4(col("reached")).as("reached"),
          fl4(col("harmonic")).as("harmonic"))
    },
    Some {
      val cap = 10
      // register round: max-merge each node's registers with its
      // in-neighbors'; estimate round: the q_hll fold verbatim
      val rounds = (1 to cap).map { t =>
        s"""r$t AS MATERIALIZED (
           |  SELECT v, bucket, max(m_j) AS m_j FROM (
           |    SELECT v, bucket, m_j FROM r${t - 1}
           |    UNION ALL
           |    SELECT und.b AS v, r.bucket, r.m_j
           |    FROM r${t - 1} r JOIN und ON r.v = und.a) u
           |  GROUP BY v, bucket)""".stripMargin
      }.mkString(",\n")
      val ests = (0 to cap).map { t =>
        s"""est$t AS MATERIALIZED (
           |  SELECT v, $t AS t,
           |    CASE WHEN raw <= 640.0 AND zeros > 0
           |      THEN CAST(256.0 AS DOUBLE) * ln(CAST(256.0 AS DOUBLE) / zeros)
           |      ELSE raw END AS est
           |  FROM (
           |    SELECT v,
           |      CAST(0.7213 AS DOUBLE)
           |        / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256)
           |        * 65536 * 562949953421312
           |        / (CAST(sum(1::BIGINT << CAST(49 - m_j AS INTEGER))
           |                AS BIGINT)
           |           + (256 - count(*)) * 562949953421312) AS raw,
           |      256 - count(*) AS zeros
           |    FROM r$t GROUP BY v))""".stripMargin
      }.mkString(",\n")
      val curve = (0 to cap).map(t => s"SELECT v, t, est FROM est$t")
        .mkString(" UNION ALL ")
      s"""WITH buyers AS MATERIALIZED (
         |  SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE l.l_partkey % 500 = 0),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT b1.c AS a, b2.c AS b
         |  FROM buyers b1 JOIN buyers b2 ON b1.p = b2.p AND b1.c < b2.c),
         |und AS MATERIALIZED (
         |  SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         |r0 AS MATERIALIZED (
         |  SELECT v,
         |    ('0x' || substring(md5(CAST(v AS VARCHAR)), 1, 2))::BIGINT
         |      AS bucket,
         |    49 - length(ltrim(bin(
         |      ('0x' || substring(md5(CAST(v AS VARCHAR)), 3, 12))::BIGINT),
         |      '0')) AS m_j
         |  FROM (SELECT DISTINCT a AS v FROM und)),
         |$rounds,
         |$ests,
         |curve AS MATERIALIZED ($curve),
         |agg AS (
         |  SELECT v, list(est ORDER BY t) AS es, list(t ORDER BY t) AS ts
         |  FROM curve GROUP BY v)
         |SELECT v AS id,
         |  floor((es[len(es)] - CAST(1.0 AS DOUBLE)) * 10000 + 0.5) / 10000
         |    AS reached,
         |  floor(list_reduce(
         |      list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(range(2, len(es) + 1),
         |          i -> (es[i] - es[i-1]) / CAST(ts[i] AS DOUBLE))),
         |      (a, b) -> a + b) * 10000 + 0.5) / 10000 AS harmonic
         |FROM agg""".stripMargin
    })

  /** Incremental connected components over the co-purchase graph: the
    * edge set is split by part-key parity into a "yesterday" half and a
    * "today" delta; Spark labels the base graph once
    * ([[graft.graph.Graph.connectedComponents]]) and folds the delta in
    * with [[graft.graph.Graph.incrementalComponents]] — old edges are
    * NEVER re-read, only old labels. The condensation property
    * guarantees the fold equals full recompute, so the oracle is the
    * SAME recursive transitive closure over the WHOLE edge set that
    * q_connected_components uses — the gate checks incremental ≡
    * from-scratch on real data. */
  val qIncrementalCc = Q(
    "q_incremental_cc",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 100 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c"),
          col("c_nationkey").as("nk"))
        .distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"),
          col("b1.p") === col("b2.p") && col("b1.nk") === col("b2.nk")
            && col("b1.c") < col("b2.c"))
        .select(col("b1.p").as("p"), col("b1.c").as("src"),
          col("b2.c").as("dst"))
        .distinct()
        .localCheckpoint() // split twice below
      val nodes = buyers.select(col("c").as("id")).distinct()
      val base = edges.filter(col("p") % 200 === 0)
        .select(col("src"), col("dst"))
      val delta = edges.filter(col("p") % 200 =!= 0)
        .select(col("src"), col("dst"))
      val baseLabels =
        graft.graph.Graph.connectedComponents(nodes, base)
      graft.graph.Graph.incrementalComponents(
        baseLabels, nodes.limit(0), delta)
    },
    Some("""WITH RECURSIVE buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c,
                     cu.c_nationkey AS nk
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer cu ON o.o_custkey = cu.c_custkey
              WHERE l.l_partkey % 100 = 0),
            e AS (
              SELECT DISTINCT b1.c AS src, b2.c AS dst
              FROM buyers b1
              JOIN buyers b2 ON b1.p = b2.p AND b1.nk = b2.nk
                            AND b1.c <> b2.c),
            reach(id, lbl) AS (
              SELECT DISTINCT c, c FROM buyers
              UNION
              SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id)
            SELECT id, min(lbl) AS component FROM reach GROUP BY id"""))

  /** Strongly connected components of the part-transition graph: for
    * each (sampled) customer, their filtered parts ordered by first
    * purchase date form a chain part→next-part; opposite purchase
    * orders across customers create cycles, and the SCCs are the
    * mutually-reachable "purchase ecosystems" (one giant core + DAG
    * periphery at this density). Spark runs
    * [[graft.graph.Graph.stronglyConnectedComponents]] (FW-BW partition
    * refinement); the oracle derives min-id SCC labels from the
    * recursive transitive closure joined against itself on mutual
    * reachability. */
  val qScc = Q(
    "q_scc",
    (s2, dir2) => {
      val (nodes, edges) = partTransitionGraph(s2, dir2)
      graft.graph.Graph.stronglyConnectedComponents(nodes, edges)
    },
    qSccOracleSql)

  /** The part-transition graph shared by q_scc, q_luby_mis, q_bowtie
    * and q_hits: per-customer purchase sequences over the %20-part,
    * %4-customer slice, as (nodes, edges). The (customer, part) relation
    * both sides derive from is materialized once, so its scan, join and
    * aggregate run one time, not once per side. */
  private def partTransitionGraph(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
      val t = Tables(s, dir)
      val fp = t.lineitem.filter(col("l_partkey") % 20 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_custkey") % 4 === 0)
        .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .agg(min(col("o_orderdate")).as("d0"))
        .localCheckpoint(true)
      // per-customer purchase sequence: bounded partitions (one
      // customer's filtered parts), so the window never concentrates
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c")).orderBy(col("d0"), col("p"))
      val edges = fp.withColumn("nxt", lead(col("p"), 1).over(w))
        .filter(col("nxt").isNotNull && col("nxt") =!= col("p"))
        .select(col("p").as("src"), col("nxt").as("dst"))
        .distinct()
      val nodes = fp.select(col("p").as("id")).distinct()
      (nodes, edges)
  }

  private def qSccOracleSql: Option[String] =
    Some("""WITH RECURSIVE fp AS MATERIALIZED (
              SELECT o.o_custkey AS c, l.l_partkey AS p,
                     min(o.o_orderdate) AS d0
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 20 = 0 AND o.o_custkey % 4 = 0
              GROUP BY 1, 2),
            seq AS (
              SELECT c, p,
                lead(p) OVER (PARTITION BY c ORDER BY d0, p) AS nxt
              FROM fp),
            e AS MATERIALIZED (
              SELECT DISTINCT p AS src, nxt AS dst FROM seq
              WHERE nxt IS NOT NULL AND nxt <> p),
            nodes AS MATERIALIZED (SELECT DISTINCT p AS id FROM fp),
            reach(s, d) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.d)
            SELECT a.s AS id, min(a.d) AS component
            FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s
            GROUP BY a.s""")

  /** Luby's maximal independent set ([[graft.graph.Graph.lubyMis]])
    * over the part-transition graph (undirected): per round, every
    * active node draws a round-salted md5 priority and enters the MIS
    * iff it beats every active neighbor; winners + neighborhoods
    * deactivate. The oracle unrolls all 8 rounds (sel/rem/act CTE
    * chain, struct-compare priority contest) — convergence inside the
    * unroll is enforced loudly on the Spark side. */
  val qLubyMis = Q(
    "q_luby_mis",
    (s, dir) => {
      val (nodes, edges) = partTransitionGraph(s, dir)
      graft.graph.Graph.lubyMis(nodes, edges, maxRounds = 8)
    },
    Some(lubyMisOracle(8)))

  /** Unrolled Luby oracle for [[qLubyMis]] over the q_scc graph CTEs. */
  private def lubyMisOracle(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""pr$r AS MATERIALIZED (
            SELECT id, ('0x' || substring(md5('mis:' || id || ':' || $r),
              1, 15))::BIGINT AS p
            FROM act${r - 1}),
          nm$r AS (
            SELECT e.src AS id,
              max(struct_pack(p := pd.p, i := e.dst)) AS mx
            FROM und e
            JOIN pr$r ps ON ps.id = e.src
            JOIN pr$r pd ON pd.id = e.dst
            GROUP BY e.src),
          sel$r AS MATERIALIZED (
            SELECT pr.id FROM pr$r pr LEFT JOIN nm$r n USING (id)
            WHERE n.mx IS NULL
               OR struct_pack(p := pr.p, i := pr.id) > n.mx),
          rem$r AS (
            SELECT id FROM sel$r
            UNION
            SELECT e.dst FROM und e JOIN sel$r s ON s.id = e.src),
          act$r AS MATERIALIZED (
            SELECT id FROM act${r - 1}
            EXCEPT SELECT id FROM rem$r)"""
    }.mkString(",\n")
    val selAll = (1 to rounds).map(r =>
      s"SELECT id, $r AS r FROM sel$r").mkString(" UNION ALL ")
    s"""WITH fp AS MATERIALIZED (
          SELECT o.o_custkey AS c, l.l_partkey AS p,
                 min(o.o_orderdate) AS d0
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE l.l_partkey % 20 = 0 AND o.o_custkey % 4 = 0
          GROUP BY 1, 2),
        seq AS (
          SELECT c, p,
            lead(p) OVER (PARTITION BY c ORDER BY d0, p) AS nxt
          FROM fp),
        e AS (
          SELECT DISTINCT p AS src, nxt AS dst FROM seq
          WHERE nxt IS NOT NULL AND nxt <> p),
        und AS MATERIALIZED (
          SELECT src, dst FROM e
          UNION SELECT dst, src FROM e),
        act0 AS MATERIALIZED (SELECT DISTINCT p AS id FROM fp),
        $roundCtes,
        selall AS ($selAll)
        SELECT n.id, s.r IS NOT NULL AS in_mis,
          CAST(coalesce(s.r, -1) AS BIGINT) AS sel_round
        FROM act0 n LEFT JOIN selall s USING (id)"""
  }

  /** Bowtie decomposition (Broder et al. WWW 2000) of the q_scc
    * part-transition graph: CORE = the largest SCC (size desc, label
    * asc tiebreak), IN = nodes that reach the core, OUT = nodes the
    * core reaches, OTHER = the rest — the classic web-corpus structure
    * map, composed from [[graft.graph.Graph.stronglyConnectedComponents]]
    * and ONE fused direction-tagged reachability loop
    * ([[graft.graph.Graph.reachability]] — forward and backward sweeps
    * share each round's frontier join, round 18; previously two separate
    * unbounded [[graft.graph.Graph.hopDistance]] sweeps).
    * The oracle reuses q_scc's recursive transitive closure for both
    * reachability directions. */
  val qBowtie = Q(
    "q_bowtie",
    (s, dir) => {
      val (nodePlan, edgePlan) = partTransitionGraph(s, dir)
      val edges = edgePlan.localCheckpoint(true) // SCC + both BFS sweeps
      val nodes = nodePlan.localCheckpoint(true)
      val scc = graft.graph.Graph.stronglyConnectedComponents(nodes, edges)
      val coreId = scc.groupBy(col("component"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("component")).limit(1)
        .select(col("component").as("core_id"))
      val coreN = scc.join(broadcast(coreId),
          col("component") === col("core_id"))
        .select(col("id")).localCheckpoint(true)
      // both sweeps fused (round 18): ONE direction-tagged frontier loop
      // ([[graft.graph.Graph.reachability]]) answers forward AND backward
      // reachability — max-of-eccentricities rounds instead of the sum,
      // observed fixpoint exit from round 1 (the two unbounded
      // hopDistance sweeps each paid ≥ 8 blind rounds before their
      // emptiness check armed, re-aggregating full hop state per round).
      // Seeded from the 1-row core LABEL: the SCC component id is the
      // min member id, and reachability from one core node ≡ from the
      // whole core by mutual reachability inside the SCC.
      // Explicit generous bound (ADVICE r19): the hopDistance sweeps this
      // replaced ran effectively unbounded; reachability's default 1000
      // would make a long-path graph (eccentricity > 1000) throw instead
      // of finish. Int.MaxValue restores the prior contract — the
      // Observation fixpoint exits at the true eccentricity regardless.
      val reach = graft.graph.Graph.reachability(
        coreId.select(col("core_id").as("id")), edges,
        maxRounds = Int.MaxValue)
      nodes
        .join(coreN.select(col("id"), lit(1).as("c")), Seq("id"), "left")
        .join(reach, Seq("id"), "left")
        .withColumn("category",
          when(col("c").isNotNull, "core")
            .when(col("b") <=> lit(true), "in")
            .when(col("f") <=> lit(true), "out")
            .otherwise("other"))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"))
    },
    Some("""WITH RECURSIVE fp AS MATERIALIZED (
              SELECT o.o_custkey AS c, l.l_partkey AS p,
                     min(o.o_orderdate) AS d0
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 20 = 0 AND o.o_custkey % 4 = 0
              GROUP BY 1, 2),
            seq AS (
              SELECT c, p,
                lead(p) OVER (PARTITION BY c ORDER BY d0, p) AS nxt
              FROM fp),
            e AS MATERIALIZED (
              SELECT DISTINCT p AS src, nxt AS dst FROM seq
              WHERE nxt IS NOT NULL AND nxt <> p),
            nodes AS MATERIALIZED (SELECT DISTINCT p AS id FROM fp),
            reach(s, d) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.d),
            scc AS MATERIALIZED (
              SELECT a.s AS id, min(a.d) AS component
              FROM reach a JOIN reach b ON a.s = b.d AND a.d = b.s
              GROUP BY a.s),
            core AS (
              SELECT component AS core_id FROM (
                SELECT component, count(*) AS n FROM scc
                GROUP BY component ORDER BY n DESC, component LIMIT 1)),
            coren AS (
              SELECT id FROM scc
              WHERE component = (SELECT core_id FROM core)),
            fwd AS (SELECT DISTINCT r.d AS id
                    FROM reach r JOIN coren c ON r.s = c.id),
            bwd AS (SELECT DISTINCT r.s AS id
                    FROM reach r JOIN coren c ON r.d = c.id),
            cls AS (
              SELECT n.id,
                CASE WHEN n.id IN (SELECT id FROM coren) THEN 'core'
                     WHEN n.id IN (SELECT id FROM bwd) THEN 'in'
                     WHEN n.id IN (SELECT id FROM fwd) THEN 'out'
                     ELSE 'other' END AS category
              FROM nodes n)
            SELECT category, count(*) AS n_nodes, min(id) AS min_id
            FROM cls GROUP BY category"""))

  /** HITS hubs & authorities over the same part-transition graph as
    * q_scc: parts frequently bought AFTER many others are authorities,
    * parts that lead INTO many others are hubs. Exact 1e-6 fixed-point
    * arithmetic throughout ([[graft.graph.Graph.hits]]), so the oracle
    * unrolls all three Gauss–Seidel iterations in integer math
    * (CAST(sum) AS BIGINT against DuckDB's HUGEINT, `//` against
    * Spark's DIV, both truncating on positives). */
  val qHits = Q(
    "q_hits",
    (s, dir) => {
      val (nodes, edges) = partTransitionGraph(s, dir)
      graft.graph.Graph.hits(nodes, edges, iters = 3)
    },
    Some("""WITH fp AS MATERIALIZED (
              SELECT o.o_custkey AS c, l.l_partkey AS p,
                     min(o.o_orderdate) AS d0
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 20 = 0 AND o.o_custkey % 4 = 0
              GROUP BY 1, 2),
            seq AS (
              SELECT c, p,
                lead(p) OVER (PARTITION BY c ORDER BY d0, p) AS nxt
              FROM fp),
            e AS MATERIALIZED (
              SELECT DISTINCT p AS src, nxt AS dst FROM seq
              WHERE nxt IS NOT NULL AND nxt <> p),
            nodes AS MATERIALIZED (SELECT DISTINCT p AS id FROM fp),
            s0 AS MATERIALIZED (
              SELECT id, 1000000::BIGINT AS a, 1000000::BIGINT AS h
              FROM nodes),
            a1r AS MATERIALIZED (
              SELECT n.id,
                coalesce((SELECT CAST(sum(s.h) AS BIGINT) FROM e
                          JOIN s0 s ON s.id = e.src
                          WHERE e.dst = n.id), 0) AS r
              FROM nodes n),
            a1 AS MATERIALIZED (
              SELECT id, CASE WHEN r = 0 THEN 0
                ELSE (r * 1000000 + (SELECT max(r) FROM a1r) // 2)
                     // (SELECT max(r) FROM a1r) END AS a
              FROM a1r),
            h1r AS MATERIALIZED (
              SELECT n.id,
                coalesce((SELECT CAST(sum(x.a) AS BIGINT) FROM e
                          JOIN a1 x ON x.id = e.dst
                          WHERE e.src = n.id), 0) AS r
              FROM nodes n),
            h1 AS MATERIALIZED (
              SELECT id, CASE WHEN r = 0 THEN 0
                ELSE (r * 1000000 + (SELECT max(r) FROM h1r) // 2)
                     // (SELECT max(r) FROM h1r) END AS h
              FROM h1r),
            a2r AS MATERIALIZED (
              SELECT n.id,
                coalesce((SELECT CAST(sum(x.h) AS BIGINT) FROM e
                          JOIN h1 x ON x.id = e.src
                          WHERE e.dst = n.id), 0) AS r
              FROM nodes n),
            a2 AS MATERIALIZED (
              SELECT id, CASE WHEN r = 0 THEN 0
                ELSE (r * 1000000 + (SELECT max(r) FROM a2r) // 2)
                     // (SELECT max(r) FROM a2r) END AS a
              FROM a2r),
            h2r AS MATERIALIZED (
              SELECT n.id,
                coalesce((SELECT CAST(sum(x.a) AS BIGINT) FROM e
                          JOIN a2 x ON x.id = e.dst
                          WHERE e.src = n.id), 0) AS r
              FROM nodes n),
            h2 AS MATERIALIZED (
              SELECT id, CASE WHEN r = 0 THEN 0
                ELSE (r * 1000000 + (SELECT max(r) FROM h2r) // 2)
                     // (SELECT max(r) FROM h2r) END AS h
              FROM h2r),
            a3r AS MATERIALIZED (
              SELECT n.id,
                coalesce((SELECT CAST(sum(x.h) AS BIGINT) FROM e
                          JOIN h2 x ON x.id = e.src
                          WHERE e.dst = n.id), 0) AS r
              FROM nodes n),
            a3 AS MATERIALIZED (
              SELECT id, CASE WHEN r = 0 THEN 0
                ELSE (r * 1000000 + (SELECT max(r) FROM a3r) // 2)
                     // (SELECT max(r) FROM a3r) END AS a
              FROM a3r),
            h3r AS MATERIALIZED (
              SELECT n.id,
                coalesce((SELECT CAST(sum(x.a) AS BIGINT) FROM e
                          JOIN a3 x ON x.id = e.dst
                          WHERE e.src = n.id), 0) AS r
              FROM nodes n),
            h3 AS MATERIALIZED (
              SELECT id, CASE WHEN r = 0 THEN 0
                ELSE (r * 1000000 + (SELECT max(r) FROM h3r) // 2)
                     // (SELECT max(r) FROM h3r) END AS h
              FROM h3r)
            SELECT a3.id, a3.a AS authority_fp, h3.h AS hub_fp
            FROM a3 JOIN h3 ON a3.id = h3.id"""))

  /** Modularity of the NATION partition over the unrestricted
    * co-purchase graph: is co-buying nation-assortative? Communities
    * come from a node attribute (no iteration), so the oracle is pure
    * integer aggregation — exact L_c/d_c/m sufficient stats, one final
    * double division, fl4 floor-form quantization on both engines. */
  val qModularity = Q(
    "q_modularity",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 100 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c"),
          col("c_nationkey").as("nk"))
        .distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"),
          col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      val membership = buyers.select(col("c").as("id"), col("nk")).distinct()
      graft.graph.Graph.modularity(edges, membership)
        .withColumn("q_contrib", fl4(col("q_contrib")))
    },
    Some("""WITH buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c,
                     cu.c_nationkey AS nk
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer cu ON o.o_custkey = cu.c_custkey
              WHERE l.l_partkey % 100 = 0),
            e AS MATERIALIZED (
              SELECT DISTINCT b1.c AS a, b2.c AS b
              FROM buyers b1
              JOIN buyers b2 ON b1.p = b2.p AND b1.c < b2.c),
            nodes AS MATERIALIZED (
              SELECT DISTINCT c AS id, nk AS community FROM buyers),
            deg AS MATERIALIZED (
              SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) u
              GROUP BY n),
            ns AS (
              SELECT nd.community, CAST(count(*) AS BIGINT) AS n_nodes,
                CAST(sum(coalesce(deg.d, 0)) AS BIGINT) AS degree_sum
              FROM nodes nd LEFT JOIN deg ON deg.n = nd.id GROUP BY 1),
            ie AS (
              SELECT na.community, CAST(count(*) AS BIGINT) AS internal_edges
              FROM e JOIN nodes na ON na.id = e.a
                     JOIN nodes nb ON nb.id = e.b
              WHERE na.community = nb.community GROUP BY 1),
            m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e)
            SELECT ns.community, ns.n_nodes,
              coalesce(ie.internal_edges, 0) AS internal_edges,
              ns.degree_sum,
              floor((4 * m.m * coalesce(ie.internal_edges, 0)
                     - ns.degree_sum * ns.degree_sum)::DOUBLE
                    / (4 * m.m * m.m)::DOUBLE * 10000 + 0.5) / 10000
                AS q_contrib
            FROM ns LEFT JOIN ie ON ns.community = ie.community, m"""))

  /** Densest-subgraph peel trace over the 1-in-100 co-purchase graph
    * ([[graft.graph.Graph.densestSubgraphTrace]], Bahmani et al. 2012):
    * each round reports (n, m, density) then drops every node with
    * d·n ≤ 4·m — exact integer peeling, ≤ log₂ n rounds, the densest
    * row a 4-approximation of the maximum-density subgraph. Oracle
    * unrolls 6 MATERIALIZED rounds (measured depth 3 at sf0.1 — same
    * 2× margin convention as q_kcore/q_ktruss). */
  val qDensest = Q(
    "q_densest",
    (s, dir) => {
      val t = Tables(s, dir)
      val buyers = t.lineitem.filter(col("l_partkey") % 100 === 0)
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("p"), col("o_custkey").as("c"))
        .distinct()
      val edges = buyers.as("b1")
        .join(buyers.as("b2"),
          col("b1.p") === col("b2.p") && col("b1.c") < col("b2.c"))
        .select(col("b1.c").as("src"), col("b2.c").as("dst")).distinct()
      graft.graph.Graph.densestSubgraphTrace(edges, maxRounds = 6)
        .withColumn("density", fl4(col("density")))
    },
    Some("""WITH buyers AS (
              SELECT DISTINCT l.l_partkey AS p, o.o_custkey AS c
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_partkey % 100 = 0),
            e0 AS MATERIALIZED (
              SELECT DISTINCT b1.c AS a, b2.c AS b
              FROM buyers b1
              JOIN buyers b2 ON b1.p = b2.p AND b1.c < b2.c),
            d0 AS MATERIALIZED (
              SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0) u
              GROUP BY v),
            s0 AS MATERIALIZED (
              SELECT (SELECT CAST(count(*) AS BIGINT) FROM d0) AS n,
                     (SELECT CAST(count(*) AS BIGINT) FROM e0) AS m),
            e1 AS MATERIALIZED (
              SELECT e.a, e.b FROM e0 e
              JOIN d0 da ON da.v = e.a
              JOIN d0 db ON db.v = e.b, s0
              WHERE da.d * s0.n > 4 * s0.m
                AND db.d * s0.n > 4 * s0.m),
            d1 AS MATERIALIZED (
              SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS v FROM e1 UNION ALL SELECT b AS v FROM e1) u
              GROUP BY v),
            s1 AS MATERIALIZED (
              SELECT (SELECT CAST(count(*) AS BIGINT) FROM d1) AS n,
                     (SELECT CAST(count(*) AS BIGINT) FROM e1) AS m),
            e2 AS MATERIALIZED (
              SELECT e.a, e.b FROM e1 e
              JOIN d1 da ON da.v = e.a
              JOIN d1 db ON db.v = e.b, s1
              WHERE da.d * s1.n > 4 * s1.m
                AND db.d * s1.n > 4 * s1.m),
            d2 AS MATERIALIZED (
              SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS v FROM e2 UNION ALL SELECT b AS v FROM e2) u
              GROUP BY v),
            s2 AS MATERIALIZED (
              SELECT (SELECT CAST(count(*) AS BIGINT) FROM d2) AS n,
                     (SELECT CAST(count(*) AS BIGINT) FROM e2) AS m),
            e3 AS MATERIALIZED (
              SELECT e.a, e.b FROM e2 e
              JOIN d2 da ON da.v = e.a
              JOIN d2 db ON db.v = e.b, s2
              WHERE da.d * s2.n > 4 * s2.m
                AND db.d * s2.n > 4 * s2.m),
            d3 AS MATERIALIZED (
              SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS v FROM e3 UNION ALL SELECT b AS v FROM e3) u
              GROUP BY v),
            s3 AS MATERIALIZED (
              SELECT (SELECT CAST(count(*) AS BIGINT) FROM d3) AS n,
                     (SELECT CAST(count(*) AS BIGINT) FROM e3) AS m),
            e4 AS MATERIALIZED (
              SELECT e.a, e.b FROM e3 e
              JOIN d3 da ON da.v = e.a
              JOIN d3 db ON db.v = e.b, s3
              WHERE da.d * s3.n > 4 * s3.m
                AND db.d * s3.n > 4 * s3.m),
            d4 AS MATERIALIZED (
              SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS v FROM e4 UNION ALL SELECT b AS v FROM e4) u
              GROUP BY v),
            s4 AS MATERIALIZED (
              SELECT (SELECT CAST(count(*) AS BIGINT) FROM d4) AS n,
                     (SELECT CAST(count(*) AS BIGINT) FROM e4) AS m),
            e5 AS MATERIALIZED (
              SELECT e.a, e.b FROM e4 e
              JOIN d4 da ON da.v = e.a
              JOIN d4 db ON db.v = e.b, s4
              WHERE da.d * s4.n > 4 * s4.m
                AND db.d * s4.n > 4 * s4.m),
            d5 AS MATERIALIZED (
              SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS v FROM e5 UNION ALL SELECT b AS v FROM e5) u
              GROUP BY v),
            s5 AS MATERIALIZED (
              SELECT (SELECT CAST(count(*) AS BIGINT) FROM d5) AS n,
                     (SELECT CAST(count(*) AS BIGINT) FROM e5) AS m)
            SELECT CAST(0 AS BIGINT) AS round, n AS n_nodes, m AS n_edges,
              floor(m::DOUBLE / n::DOUBLE * 10000 + 0.5) / 10000 AS density
            FROM s0 WHERE n > 0
            UNION ALL SELECT CAST(1 AS BIGINT) AS round, n AS n_nodes, m AS n_edges,
              floor(m::DOUBLE / n::DOUBLE * 10000 + 0.5) / 10000 AS density
            FROM s1 WHERE n > 0
            UNION ALL SELECT CAST(2 AS BIGINT) AS round, n AS n_nodes, m AS n_edges,
              floor(m::DOUBLE / n::DOUBLE * 10000 + 0.5) / 10000 AS density
            FROM s2 WHERE n > 0
            UNION ALL SELECT CAST(3 AS BIGINT) AS round, n AS n_nodes, m AS n_edges,
              floor(m::DOUBLE / n::DOUBLE * 10000 + 0.5) / 10000 AS density
            FROM s3 WHERE n > 0
            UNION ALL SELECT CAST(4 AS BIGINT) AS round, n AS n_nodes, m AS n_edges,
              floor(m::DOUBLE / n::DOUBLE * 10000 + 0.5) / 10000 AS density
            FROM s4 WHERE n > 0
            UNION ALL SELECT CAST(5 AS BIGINT) AS round, n AS n_nodes, m AS n_edges,
              floor(m::DOUBLE / n::DOUBLE * 10000 + 0.5) / 10000 AS density
            FROM s5 WHERE n > 0"""))

  def all: Seq[Q] = Seq(
    q1Agg, qFilterProject, q3Topk, qWindow, qDistinct, qSemiAnti,
    qAggStats, qStreamWindow, qTopkPerGroup, qSketch, qHll, qCms,
    qBloomJoin, qSaltedJoin, qAdaptiveSalt, qAsofJoin,
    qRollup, qCube, qRangeJoin, qMovingAvg, qPivot, qSetOps, qTopkAgg,
    qGroupingSets, qScalarSubquery, qPercentiles, qSessionize,
    qSessionWindow, qFunnel, qCohort, qCorrCov, qHistogram, qHdrQuantiles, qTheilSen, qWinsorized, qMad, qBootstrapCi, qBenford, qHillTail, qParetoAbc, qSpearman, qSprt, qHashRing, qHrwShard, qKsTest, qLateEvents, qKaplanMeier, qGoodTuring, qAuc, qGini,
    qQuantileBins, qKmvDistinct, qKmvSetops,
    qUnpivot, qOuterJoin, qWindowRank, qGapFill,
    qDqAudit, qCdcSnapshot, qSnapshotDiff, qMergeUpsert, qHopping, q5Revenue, q13Custdist,
    qNotIn, qSetOpsAll, qIntervalJoin, qZorder, qHilbert,
    qOutliers, qFfill, qAnomaly, qPagerank, qRandomWalks, qNode2vec, qLouvain,
    q2MinCost, q7Volume, q11ImportantStock, qWindowValues, q14Promo, q18LargeOrders, qSoloSupplier, qTransitions, qMode,
    qRegression, qAbTest, qAsofNative, qHeavyHitters, qScd2, qEwma, qCusum, qHolt, qHoltWinters, qSeasonalDecompose,
    qTriangles, qClusteringCoef, qConnectedComponents, qLubyMis, qBfsHops, qSssp,
    qLabelProp, qItemsets, qAttribution, qAssortativity, qKcore,
    qPprTrust, qLinkPredict, qKtruss, qHarmonic, qHarmonicHb,
    qIncrementalCc, qScc,
    qHits, qModularity, qDensest, qBowtie) ++
    MessageQueries.all ++ CodecQueries.all ++ StoreQueries.all ++
    TextQueries.all ++ DedupQueries.all ++ NetQueries.all
}
