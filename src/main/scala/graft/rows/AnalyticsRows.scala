package graft
package rows

import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.operators.TemporalOps
import graft.sources.Tables
import graft.SparkEntry._

/** The analytics rows of the driver contract: the scan-filter-join-
  * aggregate headliners, windows, sessions and star joins, temporal
  * joins, and the TPC-H query shapes over the test tables. */
private[graft] object AnalyticsRows {

  /** Shared by q_asof_lastview and q_asof_chunked. */
  private lazy val oracleSqlAsofLastView: String =
    """WITH v AS (SELECT user_id, epoch_us(ts) AS ts_us, max(event_id) AS view_event_id
      |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |     p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
      |           FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts_us,
      |       v.view_event_id, v.ts_us AS view_ts_us, p.ts_us - v.ts_us AS gap_us
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.ts_us
      |ORDER BY p.event_id""".stripMargin

  /** Shared by q_funnel3 and q_funnel3_agg. */
  private lazy val oracleSqlFunnel3: String =
    """WITH base AS (SELECT DISTINCT user_id FROM events
      |              WHERE event_type IN ('signup', 'view', 'purchase')),
      |su AS (SELECT user_id, min(epoch_us(ts)) AS t FROM events
      |       WHERE event_type = 'signup' GROUP BY user_id),
      |v AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
      |      FROM events e JOIN su ON e.user_id = su.user_id
      |      WHERE e.event_type = 'view' AND epoch_us(e.ts) > su.t
      |      GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t
      |      GROUP BY e.user_id)
      |SELECT b.user_id,
      |       coalesce(su.t, 0) AS signup_us,
      |       coalesce(v.t, 0) AS view_us,
      |       coalesce(p.t, 0) AS purchase_us
      |FROM base b
      |LEFT JOIN su USING (user_id)
      |LEFT JOIN v USING (user_id)
      |LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Shared by q_sessionize and q_sessionize_chunked. */
  private lazy val oracleSqlSessionize: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, ts_us,
      |         CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 21600000000 THEN 1 ELSE 0 END)
      |              OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM t)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       min(ts_us) AS start_us, max(ts_us) - min(ts_us) AS dur_us
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  val rows: Seq[QueryDef] = Seq(

    // ---- Analytics headliners (scan->filter->join->agg->sort) --------
    QueryDef("q1_pricing",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |            AS DOUBLE) AS sum_disc_price,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        |       CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      // TPC-H Q1 shape on lineitem
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_base"),
          sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
            .cast("double").as("sum_disc_price"),
          // exact decimal sum -> double, / count: engine-order-independent
          (sum(col("l_quantity").cast("decimal(12,2)")).cast("double") /
            count(lit(1))).as("avg_qty"),
          (sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double") /
            count(lit(1))).as("avg_price"),
          (sum(col("l_discount").cast("decimal(4,2)")).cast("double") /
            count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    QueryDef("q_top_segments",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, dir) =>
      // broadcast dim join + agg
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_price"),
          (sum(col("o_totalprice").cast("decimal(12,2)")).cast("double") /
            count(lit(1))).as("avg_price"))
        .orderBy(col("c_mktsegment"))
    },

    // ---- Analytics breadth: windows, sessions, star joins ------------
    QueryDef("q3_top_orders",
      """SELECT o_orderkey, o_orderdate,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |            AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      // 3-way star join + top-k by revenue
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp_ntz"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    QueryDef("q_sessionize", oracleSqlSessionize) { (s, dir) =>
      // gap-based sessionization (6h windows)
      graft.operators.BehaviorOps.sessionize(Tables.events(s, dir), gapUs = 21600000000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"),
          (max("ts_us") - min("ts_us")).as("dur_us"))
        .orderBy(col("user_id"), col("session_id"))
    },

    QueryDef("q_sessionize_chunked",
      // same oracle as q_sessionize: the two-phase chunked path must
      // produce identical sessions
      oracleSqlSessionize) { (s, dir) => // the skew-proof two-phase
      // sessionizer (hot key spreads over time chunks) against the SAME
      // oracle as q_sessionize — 1-day chunks over the 30-day corpus
      graft.operators.BehaviorOps.sessionizeChunked(Tables.events(s, dir),
          gapUs = 21600000000L, chunkWidthUs = 86400000000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min("ts_us").as("start_us"),
          (max("ts_us") - min("ts_us")).as("dur_us"))
        .orderBy(col("user_id"), col("session_id"))
    },

    QueryDef("q_asof_chunked",
      // same oracle as q_asof_lastview: the chunked-carry variant must
      // produce the identical as-of matching
      oracleSqlAsofLastView) { (s, dir) => // the skew-proof chunked-carry as-of
      // join against the SAME oracle as q_asof_lastview — 1-day chunks
      val ev = Tables.events(s, dir)
      val probe = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val ref = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_event_id"))
      TemporalOps.asOfJoinChunked(probe, ref, "user_id", "ts_us",
          Seq("view_event_id", "ts_us"), chunkWidth = 86400000000L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_view_event_id").as("view_event_id"),
          col("asof_ts_us").as("view_ts_us"),
          (col("ts_us") - col("asof_ts_us")).as("gap_us"))
        .orderBy(col("event_id"))
    },

    QueryDef("q_top2_per_user",
      """SELECT user_id, rn, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS rn
        |  FROM events) t
        |WHERE rn <= 2 ORDER BY user_id, rn""".stripMargin) { (s, dir) =>
      // windowed top-k per aggregate
      graft.operators.BehaviorOps.topKPerGroup(
          Tables.events(s, dir),
          Seq(col("user_id")), Seq(col("value").desc, col("event_id")), 2)
        .select(col("user_id"), col("rn"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("rn"))
    },

    QueryDef("q_funnel3", oracleSqlFunnel3) { (s, dir) => // 3-step greedy ordered funnel
      graft.operators.BehaviorOps.funnel(
          Tables.events(s, dir), Seq("signup", "view", "purchase"))
        .orderBy(col("user_id"))
    },

    QueryDef("q_funnel3_agg",
      // same oracle as q_funnel3: the agg-chain operator must reproduce
      // the greedy funnel exactly
      oracleSqlFunnel3) { (s, dir) => // the skew-proof min-agg-chain funnel
      // against the SAME oracle as q_funnel3 (which is itself written in
      // the agg-chain form) — no per-key collect_list
      graft.operators.BehaviorOps.funnelAgg(
          Tables.events(s, dir), Seq("signup", "view", "purchase"))
        .orderBy(col("user_id"))
    },

    QueryDef("q_running_value",
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |       CAST(sum(CAST(value AS DECIMAL(12,2)))
        |            OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS running_value
        |FROM events WHERE user_id < 3
        |ORDER BY user_id, ts_us, event_id""".stripMargin) { (s, dir) =>
      // cumulative per-aggregate fold
      import org.apache.spark.sql.expressions.Window
      val cum = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .filter(col("user_id") < 3)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          sum(col("value").cast("decimal(12,2)")).over(cum)
            .cast("double").as("running_value"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },

    QueryDef("q_brand_volume",
      """SELECT p_brand,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n_lines,
        |       CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, dir) =>
      // part x lineitem x supplier rollup
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("p_brand"))
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_lines"),
          countDistinct(col("s_suppkey")).as("n_suppliers"))
        .orderBy(col("p_brand"))
    },

    QueryDef("q6_forecast",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.06
        |  AND l_quantity < 24""".stripMargin) { (s, dir) =>
      // TPC-H Q6 shape: filter-only aggregation
      Tables.lineitem(s, dir)
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz") &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_quantity") < 24)
        .agg(
          sum(col("l_extendedprice").cast("decimal(12,2)") *
            col("l_discount").cast("decimal(4,2)"))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    QueryDef("q_hourly_histogram",
      """SELECT CAST(hour(ts) AS INT) AS hour, count(*) AS n,
        |       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // activity histogram by hour-of-day
      Tables.events(s, dir)
        .groupBy(hour(col("ts_t")).as("hour"))
        .agg(
          count(lit(1)).as("n"),
          count(when(col("event_type") === "error", 1)).as("n_errors"))
        .orderBy(col("hour"))
    },

    QueryDef("q5_region_revenue",
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |            AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      // 5-way star join, revenue per nation
      val nat = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
      val cust = Tables.customer(s, dir)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    QueryDef("q_returned_top",
      """SELECT c_custkey, c_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |            AS DOUBLE) AS lost_revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      // returned-items top customers
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("lost_revenue"))
        .orderBy(col("lost_revenue").desc, col("c_custkey"))
        .limit(20)
    },

    QueryDef("q_churned_users",
      """SELECT DISTINCT user_id FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-01 00:00:00' AND TIMESTAMP '2024-01-10 00:00:00'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-20 00:00:00' AND TIMESTAMP '2024-01-30 00:00:00'
        |ORDER BY user_id""".stripMargin) { (s, dir) => // set op: active early, gone late
      val ev = Tables.events(s, dir)
      val early = ev.filter(Tables.tsUsBetween(
        TimeFns.utcMicros("2024-01-01T00:00:00"), TimeFns.utcMicros("2024-01-10T00:00:00")))
        .select(col("user_id")).distinct()
      val late = ev.filter(Tables.tsUsBetween(
        TimeFns.utcMicros("2024-01-20T00:00:00"), TimeFns.utcMicros("2024-01-30T00:00:00")))
        .select(col("user_id")).distinct()
      early.except(late).orderBy(col("user_id"))
    },

    QueryDef("q_payload_decode",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |ORDER BY event_id""".stripMargin) { (s, dir) => // the ISerializer boundary: opaque
      // payload -> typed columns, as codegen'd from_json (no UDF)
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k"))
        .filter(col("k") >= 50)
        .orderBy(col("event_id"))
    },

    QueryDef("q_payload_envelope",
      // same envelope byte arithmetic on the VARCHAR side: ASCII header
      // "GB1" + 0-padded 4-digit schema id, payload verbatim after byte 7
      """WITH enc AS (
        |  SELECT event_id,
        |    'GB1' || lpad(CAST(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS VARCHAR), 4, '0')
        |        || props AS data
        |  FROM events)
        |SELECT event_id,
        |  CAST(substring(data, 4, 4) AS INT) AS schema_id,
        |  CASE WHEN CAST(substring(data, 4, 4) AS INT) = 1
        |       THEN CAST(json_extract_string(substring(data, 8), '$.k') AS BIGINT) END AS k,
        |  substring(data, 8) AS payload
        |FROM enc
        |WHERE substring(data, 1, 3) = 'GB1'
        |ORDER BY event_id""".stripMargin) { (s, dir) => // the SECOND serializer at the
      // same seam (reference ISerializer is deployment-pluggable): binary
      // pass-through envelope (magic + schema id + verbatim payload bytes),
      // full write -> read round trip with schema-id DISPATCH — id 1
      // decodes as JSON, other ids pass through opaque. All codegen'd
      // substring/concat arithmetic, no UDF; the oracle replays the same
      // byte arithmetic on the VARCHAR side.
      import graft.operators.SerdeOps
      val enc = Tables.events(s, dir).select(
        col("event_id"),
        SerdeOps.encodeEnvelope(col("props"),
          when(col("event_id") % 2 === 0, lit(1)).otherwise(lit(2))).as("data"))
      enc.select(col("event_id"), SerdeOps.decodeEnvelope(col("data")).as("env"))
        .filter(col("env.schema_id").isNotNull)
        .select(
          col("event_id"),
          col("env.schema_id").as("schema_id"),
          when(col("env.schema_id") === 1,
            from_json(col("env.payload").cast("string"),
              org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k"))
            .as("k"),
          col("env.payload").cast("string").as("payload"))
        .orderBy(col("event_id"))
    },

    QueryDef("q_salted_counter",
      """SELECT msgid, CAST(sum(partial) AS BIGINT) AS cv FROM (
        |  SELECT event_type AS msgid, hash(event_id) % 16 AS salt, count(*) AS partial
        |  FROM events GROUP BY 1, 2) t
        |GROUP BY msgid ORDER BY msgid""".stripMargin) { (s, dir) =>
      // D2 under skew: two-phase salted agg
      // phase 1 fans each hot key over 16 salt buckets (partial counts),
      // phase 2 folds the 16 partials — bounds any single reducer's input
      // at corpus/16 per key regardless of key skew
      Tables.events(s, dir)
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
        .groupBy(col("event_type").as("msgid"), col("salt"))
        .agg(count(lit(1)).as("partial"))
        .groupBy(col("msgid"))
        .agg(sum(col("partial")).cast("long").as("cv"))
        .orderBy(col("msgid"))
    },

    // ---- Temporal joins (as-of / bucketized range) --------------------
    QueryDef("q_asof_lastview", oracleSqlAsofLastView) { (s, dir) =>
      // latest prior 'view' per 'purchase'
      val ev = Tables.events(s, dir)
      val probe = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      // pre-reduce the reference side to one row per (key, ts) — as-of tie
      // determinism (see TemporalOps.asOfJoin)
      val ref = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("view_event_id"))
      TemporalOps.asOfJoin(probe, ref, "user_id", "ts_us", Seq("view_event_id", "ts_us"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("asof_view_event_id").as("view_event_id"),
          col("asof_ts_us").as("view_ts_us"),
          (col("ts_us") - col("asof_ts_us")).as("gap_us"))
        .orderBy(col("event_id"))
    },

    QueryDef("q_range_activity",
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |     p AS (SELECT event_id AS anchor_id, user_id, ts_us FROM e WHERE event_type = 'error')
        |SELECT p.anchor_id, p.user_id, CAST(count(*) AS BIGINT) AS n_nearby
        |FROM p JOIN e ON p.user_id = e.user_id
        | AND e.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us + 1800000000
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, dir) =>
      // events within ±30min of each error
      val ev = Tables.events(s, dir)
      val probes = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("anchor_id"), col("user_id"),
          (col("ts_us") - 1800000000L).as("lo"), (col("ts_us") + 1800000000L).as("hi"))
      TemporalOps.rangeJoin(
          probes, ev.select(col("user_id"), col("ts_us")),
          "user_id", "lo", "hi", "ts_us", bucketWidth = 3600000000L)
        .groupBy(col("anchor_id"), col("user_id"))
        .agg(count(lit(1)).as("n_nearby"))
        .orderBy(col("anchor_id"))
    },

    // ---- Analytics breadth: more TPC-H shapes -------------------------
    QueryDef("q4_priority",
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) => // existence semi-join by priority
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    QueryDef("q12_priority_class",
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) => // join + conditional class counts
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },

    QueryDef("q14_promo",
      """SELECT floor((100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |                THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                     (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |                ELSE 0 END) AS DOUBLE) /
        |             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                      (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |                  AS DOUBLE)) * 10000.0) / 10000.0 AS promo_pct,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin) { (s, dir) =>
      // promo revenue share (exact-decimal ratio)
      val rev = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .agg(
          graft.functions.NumFns.floorAt(
            lit(100.0) * sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0))).cast("double") /
              sum(rev).cast("double"), 4).as("promo_pct"),
          count(lit(1)).as("n_lines"))
    },

    QueryDef("q16_parts_suppliers",
      // NOT EXISTS, not NOT IN: the Spark side is a left_anti join, and the
      // two only agree when the subquery can't yield NULL — NOT EXISTS has
      // identical null semantics to anti-join by definition (q22 likewise)
      """SELECT p_brand, p_type, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE NOT EXISTS (SELECT 1 FROM supplier
        |                  WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
        |GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin) { (s, dir) =>
      // distinct-supplier count + anti-join
      val ps = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val excluded = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      ps.join(excluded, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
    },

    QueryDef("q18_big_orders",
      """SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
        |       CAST(sum_qty_d AS DOUBLE) AS sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty_d
        |      FROM lineitem GROUP BY 1
        |      HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 250) b
        |  ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) => // HAVING-filtered agg joined back
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("sum_qty_d"))
        .filter(col("sum_qty_d") > 250)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("sum_qty_d").cast("double").as("sum_qty"))
        .orderBy(col("o_orderkey"))
    },

    QueryDef("q7_nation_volume",
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INT) AS l_year,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |            AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1997-12-31 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
      // TPC-H Q7 shape: two-sided nation
      // pair join (supplier nation x customer nation) + per-year rollup
      val nat = (alias: String) => Tables.nation(s, dir)
        .select(col("n_nationkey").as(s"${alias}_nk"), col("n_name").as(alias))
      val picked = Seq("NATION_1", "NATION_2", "NATION_3")
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp_ntz"), lit("1997-12-31").cast("timestamp_ntz")))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat("supp_nation")), col("s_nationkey") === col("supp_nation_nk"))
        .join(broadcast(nat("cust_nation")), col("c_nationkey") === col("cust_nation_nk"))
        .filter(col("supp_nation").isin(picked: _*) && col("cust_nation").isin(picked: _*) &&
          col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("volume"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },

    QueryDef("q15_top_supplier",
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                  (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |              AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) => // TPC-H Q15 shape: windowed revenue
      // per supplier + scalar-max selection
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("total_revenue"))
      val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
      Tables.supplier(s, dir)
        .join(rev, col("s_suppkey") === col("supplier_no"))
        .join(broadcast(top), col("total_revenue") === col("max_revenue"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },

    QueryDef("q17_small_qty",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23' AND p_size < 15
        |  AND l_quantity < 0.2 * (SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*)
        |                          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin
    ) { (s, dir) => // TPC-H Q17 shape: correlated avg
      // threshold per part (decorrelated to a per-key aggregate join)
      val pt = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#23" && col("p_size") < 15)
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, dir)
        .join(pt, col("l_partkey") === col("p_partkey"))
      val thr = li.groupBy(col("l_partkey").as("t_partkey"))
        .agg((sum(col("l_quantity").cast("decimal(12,2)")).cast("double") /
          count(lit(1))).as("avg_qty"))
      li.join(thr, col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(
          (sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double") / 7.0)
            .as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    },

    QueryDef("q19_disjunctive",
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |            AS DOUBLE) AS revenue,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin
    ) { (s, dir) => // TPC-H Q19 shape: OR-of-ANDs
      // predicate across the join (disjunctive pushdown + one agg)
      val band = (brand: String, szHi: Int, qLo: Int, qHi: Int) =>
        col("p_brand") === brand && col("p_size").between(1, szHi) &&
          col("l_quantity").between(qLo, qHi)
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .filter(band("Brand#12", 5, 1, 11) || band("Brand#23", 10, 10, 20) ||
          band("Brand#24", 15, 20, 30))
        .agg(
          sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    QueryDef("q22_idle_customers",
      """SELECT c_nationkey, count(*) AS n_cust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
        |                   FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1997-06-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) => // scalar subquery + anti-join
      val cust = Tables.customer(s, dir)
      // deterministic average: exact decimal sum / count (avg(double) is
      // partial-sum order-dependent and could flip boundary comparisons)
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast("decimal(12,2)")).cast("double") /
          count(lit(1))).as("avg_bal"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp_ntz"))
        .select(col("o_custkey")).distinct()
      cust.crossJoin(avgBal)
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("total_bal"))
        .orderBy(col("c_nationkey"))
    },

    QueryDef("q2_min_supplier",
      """WITH eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
        |            JOIN nation ON s_nationkey = n_nationkey
        |            JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |px AS (SELECT p_partkey, p_name FROM part WHERE p_size <= 10 AND p_type = 'STANDARD'),
        |offers AS (SELECT l_partkey, l_suppkey, min(l_extendedprice) AS price
        |           FROM lineitem JOIN eu ON l_suppkey = s_suppkey
        |           JOIN px ON l_partkey = p_partkey
        |           GROUP BY 1, 2)
        |SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name, price
        |FROM offers o JOIN px ON l_partkey = p_partkey JOIN eu ON l_suppkey = s_suppkey
        |WHERE price = (SELECT min(price) FROM offers o2 WHERE o2.l_partkey = o.l_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin) { (s, dir) =>
      // TPC-H Q2 shape: correlated min over
      // a priced-offer relation + join back (no partsupp table in the
      // fixtures, so lineitem's min extended price per (part, supplier)
      // stands in as the offer list — the plan shape is identical: regional
      // dimension reduction, grouped min, equality join back on the min)
      val eu = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val px = Tables.part(s, dir)
        .filter(col("p_size") <= 10 && col("p_type") === "STANDARD")
        .select(col("p_partkey"), col("p_name"))
      // per-part min via a window over the ALREADY-AGGREGATED offers frame:
      // one lineitem scan total (a groupBy-min + join-back would re-run the
      // whole fact pipeline for the second aggregate — the offers relation
      // after grouping is |parts x suppliers| small, so one extra exchange
      // of it beats a second 100 TB scan)
      val offers = Tables.lineitem(s, dir)
        .join(eu.select("s_suppkey"), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .join(px.select("p_partkey"), col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("price"))
      import org.apache.spark.sql.expressions.Window
      offers
        .withColumn("min_price",
          min(col("price")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("price") === col("min_price"))
        .join(px, col("l_partkey") === col("p_partkey"))
        .join(eu, col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
          col("s_acctbal"), col("n_name"), col("price"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
    },

    QueryDef("q8_market_share",
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
        |                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
        |       CAST(sum(vol) AS DOUBLE) AS mkt_share
        |FROM (
        |  SELECT o_orderdate, n2.n_name AS supp_nation,
        |         CAST(l_extendedprice AS DECIMAL(12,2)) *
        |         (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS vol
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |   AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA') t
        |GROUP BY o_year ORDER BY o_year""".stripMargin) { (s, dir) =>
      // TPC-H Q8 shape: one nation's share
      // of regional import volume per year — 7-table join, conditional
      // aggregation, exact-decimal volume, double division at the end
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
      val vol = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .join(Tables.orders(s, dir).filter(col("o_orderdate").between(
            lit("1995-01-01").cast("timestamp_ntz"), lit("1996-12-31").cast("timestamp_ntz"))),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "AMERICA")),
          col("c_rk") === col("r_regionkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(lit(0).cast("decimal(17,4)"))).cast("double") /
          sum(vol).cast("double")).as("mkt_share"))
        .orderBy(col("o_year"))
    },

    QueryDef("q9_profit",
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(sum(
        |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |              (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))
        |       - CAST(CAST(p_retailprice AS DECIMAL(12,2)) *
        |              CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY n_name, o_year
        |ORDER BY n_name, o_year DESC""".stripMargin) { (s, dir) =>
      // TPC-H Q9 shape: profit by supplier
      // nation x order year over the whole fact — 5-table join, two
      // decimal products per row, negative-capable sum. No partsupp table
      // in the fixtures: part retail price stands in for supply cost
      // (amount = extprice*(1-disc) - retail*qty), both products exact
      // DECIMAL(18,4) before the subtraction on BOTH engines.
      val vol = (col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))
        .cast("decimal(18,4)")
      val cost = (col("p_retailprice").cast("decimal(12,2)") *
        col("l_quantity").cast("decimal(12,2)")).cast("decimal(18,4)")
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_name").contains("red")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(vol - cost).cast("double").as("sum_profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    },

    QueryDef("q11_value_parts",
      """WITH pv AS (
        |  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS value
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA')
        |  GROUP BY l_partkey)
        |SELECT l_partkey, CAST(value AS DOUBLE) AS value
        |FROM pv
        |WHERE value * 1000 > (SELECT sum(value) FROM pv)
        |ORDER BY value DESC, l_partkey""".stripMargin) { (s, dir) => // TPC-H Q11 shape: value
      // concentration — per-part traded value for one region's suppliers,
      // kept where value exceeds 1/1000 of the regional total. The
      // threshold is a one-row scalar crossJoin (q22's bounded-BNL
      // family) and the comparison is value*1000 > total: pure decimal
      // integer arithmetic, no float boundary to flip between engines.
      val asiaSupp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"))
      val pv = Tables.lineitem(s, dir)
        .join(asiaSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .groupBy(col("l_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")).as("value"))
      val total = pv.agg(sum(col("value")).as("total"))
      pv.crossJoin(broadcast(total))
        .filter(col("value") * 1000 > col("total"))
        .select(col("l_partkey"), col("value").cast("double").as("value"))
        .orderBy(col("value").desc, col("l_partkey"))
    },

    QueryDef("q13_order_histogram",
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
      // TPC-H Q13 shape: outer-join
      // count (customers with zero orders must survive) -> histogram
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    QueryDef("q20_semi_chain",
      """SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small %')
        |    AND l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > CAST(40 AS DECIMAL(12,2)))
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) => // TPC-H Q20 shape: nested semi chain —
      // region-filtered suppliers semi-joined against a grouped HAVING
      // subquery that itself semi-joins a name-filtered part list
      val asia = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      val smallParts = Tables.part(s, dir)
        .filter(col("p_name").startsWith("small ")).select(col("p_partkey"))
      val qualified = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
          col("l_shipdate") < lit("1999-01-01").cast("timestamp_ntz"))
        .join(smallParts, col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("qty"))
        .filter(col("qty") > 40) // tuned: nonzero qualifiers at every sf
        .select(col("l_suppkey"))
      asia.join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .orderBy(col("s_suppkey"))
    },

    QueryDef("q21_late_supplier",
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin) { (s, dir) =>
      // TPC-H Q21 shape: exists + not-
      // exists against the self-joined fact — suppliers whose line shipped
      // last among multi-supplier 'F' orders (l_shipdate stands in for the
      // missing receipt/commit pair; the semi + anti join pair is the shape)
      val l1 = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val fOrders = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
      val l2 = l1.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
      val l3 = l1.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"),
        col("l_shipdate").as("d3"))
      l1.join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .join(l2, col("o2") === col("l_orderkey") && col("s2") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("o3") === col("l_orderkey") && col("s3") =!= col("l_suppkey") &&
          col("d3") > col("l_shipdate"), "left_anti")
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
  )
}
