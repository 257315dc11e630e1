package graft
package rows

import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.operators.{CurationOps, DedupOps, IndexOps, MultimodalOps, SimilarityOps, TextOps}
import graft.sources.Tables
import graft.SparkEntry._

/** The event-store rows of the driver contract: projections and filters
  * over one aggregate's stream, the by-event-type index, aggregation and
  * replay (with the streaming twins that maintain them), and the
  * canonical event-log API over binary ids, revisions and FileTime. */
private[graft] object EventStoreRows {

  /** Shared by q_canon_streams and q_canon_streams_sorted. */
  private lazy val oracleSqlCanonStreams: String =
    """SELECT user_id AS id, count(*) AS n_events,
      |       string_agg(CAST(event_id AS INT), ',' ORDER BY CAST(event_id AS INT)) AS revs_csv
      |FROM events GROUP BY user_id ORDER BY id""".stripMargin

  /** Shared by q_index_build and q_stream_index. */
  private lazy val oracleSqlIndexBuild: String =
    """SELECT event_type AS et, CAST(year(ts)*1000 + dayofyear(ts) AS INT) AS pid,
      |       user_id AS aid, event_id AS eid, epoch_us(ts) AS ts_us
      |FROM events ORDER BY et, pid, ts_us, eid""".stripMargin

  /** Shared by q_message_counter and q_stream_counters. */
  private lazy val oracleSqlMessageCounter: String =
    """SELECT event_type AS msgid, count(*) AS cv
      |FROM events GROUP BY event_type ORDER BY msgid""".stripMargin

  /** Shared by q_ts_range and q_ts_range_derived. */
  private lazy val oracleSqlTsRange: String =
    s"""SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
       |FROM events WHERE ts BETWEEN $SqlT10 AND $SqlT20
       |ORDER BY event_id""".stripMargin

  val rows: Seq[QueryDef] = Seq(

    // ---- B. projections / filters ------------------------------------
    QueryDef("q_load_aggregate",
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value, props
        |FROM events WHERE user_id = 7 ORDER BY event_id""".stripMargin) { (s, dir) =>
      // B1: one aggregate, clustering order
      Tables.events(s, dir)
        .filter(col("user_id") === 7)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
          col("value"), col("props"))
        .orderBy(col("event_id"))
    },

    QueryDef("q_load_desc",
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |FROM events WHERE user_id = 7 ORDER BY event_id DESC""".stripMargin) { (s, dir) =>
      // B4: same partition, reverse order
      Tables.events(s, dir)
        .filter(col("user_id") === 7)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .orderBy(col("event_id").desc)
    },

    QueryDef("q_load_event",
      """SELECT event_id, epoch_us(ts) AS ts_us, props
        |FROM events WHERE user_id = 7 ORDER BY event_id LIMIT 1""".stripMargin) { (s, dir) =>
      // B2: point lookup (first event of agg 7)
      Tables.events(s, dir)
        .filter(col("user_id") === 7)
        .orderBy(col("event_id"))
        .select(col("event_id"), col("ts_us"), col("props"))
        .limit(1)
    },

    QueryDef("q_load_rebuild",
      """SELECT props FROM events WHERE user_id = 7 ORDER BY event_id LIMIT 1""".stripMargin
    ) { (s, dir) => // B3: narrowest projection, payload only
      Tables.events(s, dir)
        .filter(col("user_id") === 7)
        .orderBy(col("event_id"))
        .select(col("props"))
        .limit(1)
    },

    QueryDef("q_ts_range", oracleSqlTsRange) { (s, dir) => // B5/E2: inclusive time-range full scan
      Tables.events(s, dir)
        .filter(Tables.tsUsBetween(T10, T20))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
        .orderBy(col("event_id"))
    },

    QueryDef("q_ts_range_derived",
      // same truth as q_ts_range: the derived-column filter must select
      // exactly the rows the raw-bound convention selects
      oracleSqlTsRange) { (s, dir) => // B5 written the way a USER
      // writes it: the range filter sits on the derived micros column
      // with no manual raw bound — plans.DerivedLongBounds synthesizes
      // the nanos scan bounds (pinned in PlanRegressionSpec); shares
      // q_ts_range's oracle
      Tables.events(s, dir)
        .filter(col("ts_us").between(T10, T20))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
        .orderBy(col("event_id"))
    },

    // ---- A6/E4/C1/C2: the by-event-type index ------------------------
    QueryDef("q_index_build", oracleSqlIndexBuild) { (s, dir) =>
      // A6: index derivation from the log
      Tables.events(s, dir)
        .select(col("event_type").as("et"), col("pid"),
          col("user_id").as("aid"), col("event_id").as("eid"), col("ts_us"))
        .orderBy(col("et"), col("pid"), col("ts_us"), col("eid"))
    },

    QueryDef("q_index_range",
      s"""SELECT event_type AS et, CAST(year(ts)*1000 + dayofyear(ts) AS INT) AS pid,
         |       user_id AS aid, event_id AS eid, epoch_us(ts) AS ts_us
         |FROM events
         |WHERE event_type = 'purchase'
         |  AND CAST(year(ts)*1000 + dayofyear(ts) AS INT) BETWEEN 2024010 AND 2024020
         |  AND ts BETWEEN $SqlT10 AND $SqlT20
         |ORDER BY ts_us, eid""".stripMargin) { (s, dir) => // E4: day-pruned index range read
      Tables.events(s, dir)
        .filter(col("event_type") === "purchase" &&
          col("pid").between(2024010, 2024020) &&
          Tables.tsUsBetween(T10, T20))
        .select(col("event_type").as("et"), col("pid"),
          col("user_id").as("aid"), col("event_id").as("eid"), col("ts_us"))
        .orderBy(col("ts_us"), col("eid"))
    },

    QueryDef("q_index_join",
      s"""SELECT e.event_id, e.user_id, e.event_type, epoch_us(e.ts) AS ts_us, e.value
         |FROM events e
         |JOIN (SELECT user_id AS aid, event_id AS eid FROM events
         |      WHERE event_type = 'purchase' AND ts BETWEEN $SqlT10 AND $SqlT20) i
         |  ON e.user_id = i.aid AND e.event_id = i.eid
         |ORDER BY e.event_id""".stripMargin) { (s, dir) => // C1: index -> events equi-join
      // through EventStoreOps (hint-free policy; PlanRegressionSpec pins it)
      val ev = Tables.events(s, dir)
      val idx = ev
        .filter(col("event_type") === "purchase" && Tables.tsUsBetween(T10, T20))
        .select(col("user_id").as("aid"), col("event_id").as("eid"))
      graft.operators.EventStoreOps.indexJoinOn(ev, idx,
          col("user_id") === col("aid") && col("event_id") === col("eid"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"), col("value"))
        .orderBy(col("event_id"))
    },

    QueryDef("q_semi_join",
      s"""SELECT user_id, count(*) AS n_events,
         |       min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
         |FROM events
         |WHERE user_id IN (SELECT DISTINCT user_id FROM events
         |                  WHERE event_type = 'error' AND ts BETWEEN $SqlT10 AND $SqlT20)
         |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      // C2: whole aggregates touched by a type
      // through EventStoreOps (hint-free policy; PlanRegressionSpec pins it)
      val ev = Tables.events(s, dir)
      val touched = ev
        .filter(col("event_type") === "error" && Tables.tsUsBetween(T10, T20))
        .select(col("user_id").as("aid")).distinct()
      graft.operators.EventStoreOps.semiJoinAggregatesOn(ev, touched,
          col("user_id") === col("aid"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          min("ts_us").as("first_us"),
          max("ts_us").as("last_us"))
        .orderBy(col("user_id"))
    },

    // ---- D/E. aggregation / replay -----------------------------------
    QueryDef("q_aggregate_streams",
      """SELECT user_id, count(*) AS n_events,
        |       string_agg(event_id, ',' ORDER BY event_id) AS ids_csv
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      // E3/D5: per-aggregate ordered stream
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          array_join(transform(array_sort(collect_list(col("event_id"))),
            _.cast("string")), ",").as("ids_csv"))
        .orderBy(col("user_id"))
    },

    QueryDef("q_keyset_page",
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type
        |FROM events WHERE user_id = 7 AND event_id > 100
        |ORDER BY event_id LIMIT 10""".stripMargin) { (s, dir) =>
      // E6: keyset pagination, page after rev 100
      Tables.events(s, dir)
        .filter(col("user_id") === 7 && col("event_id") > 100)
        .select(col("event_id"), col("ts_us"), col("event_type"))
        .orderBy(col("event_id"))
        .limit(10)
    },

    QueryDef("q_min_ts", "SELECT min(epoch_us(ts)) AS min_ts_us FROM events") { (s, dir) =>
      // D1: global min ts (default replay start), through the reference
      // API over the index derived from the event log; FileTime back to
      // epoch micros inverts microsToFileTime exactly
      IndexOps.minTs(IndexOps.buildIndex(Tables.eventLog(s, dir)))
        .select(TimeFns.fileTimeToMicros(col("ts")).as("min_ts_us"))
    },

    QueryDef("q_message_counter", oracleSqlMessageCounter) { (s, dir) =>
      // D2: counter truth per message type
      Tables.events(s, dir)
        .groupBy(col("event_type").as("msgid"))
        .agg(count(lit(1)).as("cv"))
        .orderBy(col("msgid"))
    },

    QueryDef("q_count_for_type",
      "SELECT count(*) AS cnt FROM events WHERE event_type = 'click'") { (s, dir) =>
      // D4 (fixed semantics): count one type, through the reference API
      // over the index derived from the event log
      IndexOps.countForType(IndexOps.buildIndex(Tables.eventLog(s, dir)), "click")
    },

    QueryDef("q_latest_state",
      // arg_max == max_by; the argmax key (event_id) is unique per group
      """SELECT user_id, max(event_id) AS last_rev,
        |       arg_max(event_type, event_id) AS last_type,
        |       arg_max(epoch_us(ts), event_id) AS last_ts_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      // current-state table: the newest
      // event per aggregate in ONE hash aggregation (max_by — no window,
      // no self-join; the CDC "latest revision wins" read). event_id is
      // unique per aggregate, so the argmax is deterministic.
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          max(col("event_id")).as("last_rev"),
          max_by(col("event_type"), col("event_id")).as("last_type"),
          max_by(col("ts_us"), col("event_id")).as("last_ts_us"))
        .orderBy(col("user_id"))
    },

    QueryDef("q_cohort_retention",
      // integer day arithmetic on epoch micros (positive -> floor == trunc
      // on both engines)
      """WITH ev AS (
        |  SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        |  FROM events),
        |fs AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT cohort_day, e.day - cohort_day AS days_since,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
        |FROM ev e JOIN fs USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) => // cohort analysis: users grouped
      // by first-seen day, per (cohort, days-since) active-user counts —
      // the standard retention matrix. Two aggs + one join: the first-seen
      // frame is |users| (AQE broadcasts it); the fact shuffles once.
      val ev = Tables.events(s, dir)
        // integer `div`, not double-divide-then-truncate: matches the
        // oracle's exact floor-division (//) semantics for all longs, not
        // just positive ones far from the 2^53 double mantissa limit
        .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      val firstSeen = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      ev.join(firstSeen, Seq("user_id"))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("days_since"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy(col("cohort_day"), col("days_since"))
    },

    QueryDef("q_pivot_types",
      // the conditional-aggregate expansion Catalyst lowers pivot into
      """SELECT user_id,
        |  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view,
        |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      // pivot: per-user event-type counts as
      // columns (Catalyst rewrites the pivot into conditional aggregates —
      // one shuffle, no per-column scans); explicit value list, so the
      // schema is static and no values-discovery pre-pass runs at scale
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("user_id"))
    },

    QueryDef("q_rollup_daily",
      // ROLLUP levels with the standard first-arg-is-MSB grouping id
      """SELECT event_type, CAST(year(ts)*1000 + dayofyear(ts) AS INT) AS pid,
        |       count(*) AS n, CAST(GROUPING(event_type, pid) AS BIGINT) AS gid
        |FROM events
        |GROUP BY ROLLUP(event_type, pid)
        |ORDER BY gid, event_type, pid""".stripMargin) { (s, dir) =>
      // rollup: (et, pid) counts with both
      // subtotal levels in one pass — grouping-sets expansion inside a
      // single hash aggregation, the OLAP subtotal shape
      Tables.events(s, dir)
        .rollup(col("event_type"), col("pid"))
        .agg(count(lit(1)).as("n"), grouping_id().cast("long").as("gid"))
        .orderBy(col("gid"), col("event_type"), col("pid"))
    },

    QueryDef("q_daily_counts",
      """SELECT CAST(year(ts)*1000 + dayofyear(ts) AS INT) AS pid, count(*) AS n,
        |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // E4 partition math: per-day-pid counts
      Tables.events(s, dir)
        .groupBy(col("pid"))
        .agg(
          count(lit(1)).as("n"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"))
        .orderBy(col("pid"))
    },

    QueryDef("q_commit_split",
      // the pos-offset rule recomputed arithmetically: private events take
      // pos 0..n-1, public events n-1+5+k (PublicEventsOffset = 5)
      """WITH c AS (
        |  SELECT user_id AS id, CAST(year(ts)*1000 + dayofyear(ts) AS INT) AS rev,
        |         CAST(count(*) AS INT) AS n,
        |         CAST(count(CASE WHEN value >= 100 THEN 1 END) AS INT) AS m
        |  FROM events GROUP BY 1, 2)
        |SELECT id, rev, n AS n_private, m AS n_public,
        |       array_to_string(list_transform(range(0, n), i -> CAST(i AS VARCHAR)), ',') AS priv_pos,
        |       coalesce(array_to_string(list_transform(range(0, m), j -> CAST(n - 1 + 5 + j AS VARCHAR)), ','), '') AS pub_pos
        |FROM c ORDER BY id, rev""".stripMargin) { (s, dir) => // D5: pos-gap commit reassembly,
      // end-to-end through the write-side pos encoding and the read-side
      // split (AggregateCommitBlock.cs:56-64): events are grouped into one
      // commit per (aggregate, day); every event is a private event and the
      // value>=100 ones are ALSO published as public events, which
      // commitToRows places at pos = n-1+PublicEventsOffset+k. The oracle
      // recomputes the expected positions arithmetically.
      val ev = Tables.events(s, dir)
      val commits = ev
        .groupBy(col("user_id").as("id"), col("pid").as("rev"))
        .agg(
          min(TimeFns.microsToFileTime(col("ts_us"))).as("ts"),
          transform(
            array_sort(collect_list(struct(col("event_id").as("eid"),
              encode(col("props"), "utf-8").as("d")))),
            e => e.getField("d")).as("events"),
          transform(
            array_sort(collect_list(when(col("value") >= 100,
              struct(col("event_id").as("eid"), encode(col("props"), "utf-8").as("d"))))),
            e => e.getField("d")).as("publicEvents"))
      val rows = graft.sources.Storage.commitToRows(commits)
      graft.operators.EventStoreOps.reassembleCommits(rows)
        .select(col("id"), col("rev"),
          size(col("events")).as("n_private"),
          size(col("publicEvents")).as("n_public"),
          array_join(transform(col("events"),
            e => e.getField("pos").cast("string")), ",").as("priv_pos"),
          array_join(transform(col("publicEvents"),
            e => e.getField("pos").cast("string")), ",").as("pub_pos"))
        .orderBy(col("id"), col("rev"))
    },

    QueryDef("q_counter_fold",
      """SELECT event_type AS msgid,
        |       CAST(count(*) - count(CASE WHEN ts < TIMESTAMP '2024-01-10 00:00:00' THEN 1 END) AS BIGINT) AS cv
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // B7/D2/D3: increments-log fold with a
      // compensating reset (MessageCounter.cs:63-117): +1 per event, then a
      // reset appends -cv for the pre-2024-01-10 prefix; the fold nets out
      // to the post-reset count per message type.
      val ev = Tables.events(s, dir)
      val incr = ev.select(col("event_type").as("msgid"), lit(1L).as("delta"))
      val early = ev.filter(col("ts_ns") < lit(T10 * 1000L))
        .select(col("event_type").as("msgid"), lit(1L).as("delta"))
      val resets = graft.operators.CounterOps.counters(early)
        .select(col("msgid"), (-col("cv")).as("delta"))
      graft.operators.CounterOps.counters(incr.unionByName(resets))
        .orderBy(col("msgid"))
    },

    QueryDef("q_message_scan",
      """WITH m AS (SELECT epoch_us(ts)*10 + 116444736000000000 AS ft FROM events)
        |SELECT (ft // 864000000000) * 864000000000 AS date,
        |       count(*) AS n_msgs, min(ft) AS first_ts, max(ft) AS last_ts
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // A8/A9: message-store scan shape —
      // day-truncated FileTime partition key (the same withMessageDate the
      // sink uses) -> per-day counts and ts bounds
      // (CassandraMessageStore.cs:19-68)
      val msgs = Tables.eventLog(s, dir).select(col("ts"), col("data"))
      graft.sources.Storage.withMessageDate(msgs)
        .groupBy(col("date"))
        .agg(count(lit(1)).as("n_msgs"), min("ts").as("first_ts"), max("ts").as("last_ts"))
        .orderBy(col("date"))
    },

    QueryDef("q_stream_counters", oracleSqlMessageCounter) { (s, dir) =>
      // streaming D2: the message counter
      // as an update/complete-mode stateful streaming aggregation, driven
      // to batch completion with an AvailableNow drain and gated by the
      // SAME oracle as the batch fold — the streaming path computes the
      // reference's counter semantics (MessageCounter.cs) exactly-once
      drainToMemory(s, dir, "events", "q_stream_counters_sink", "complete")(
          graft.streaming.StreamingOps.liveCounters(stream(s, dir, "events"), etCol = "event_type"))
        .select(col("msgid"), col("cv")).orderBy(col("msgid"))
    },

    QueryDef("q_stream_dedup",
      // the doubled stream must land exactly the batch-distinct counts
      """SELECT event_type AS msgid, count(*) AS cv
        |FROM (SELECT DISTINCT user_id, event_id, event_type FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) => // streaming exactly-once landing: the
      // log's file-stream source unioned with itself simulates at-least-once
      // redelivery (every event arrives twice); dropDuplicatesWithinWatermark
      // on (id, rev, pos) lands each exactly once, and the landed counts
      // must match the batch oracle — the reference's non-idempotent
      // retry-double-write (CassandraEventStore.cs:67-70) made exact
      val ev = stream(s, dir, "events")
      val src = ev.select(col("user_id").as("id"), col("event_id").cast("int").as("rev"),
        lit(0).as("pos"), col("event_type"),
        timestamp_micros(Tables.tsToMicros(col("ts"), ev.schema("ts").dataType)).as("ts_t"))
      drainToMemory(s, dir, "events", "q_stream_dedup_sink", "append")(
          graft.streaming.StreamingOps.dedupedEvents(src.unionByName(src), "ts_t"))
        .groupBy(col("event_type").as("msgid"))
        .agg(count(lit(1)).as("cv"))
        .orderBy(col("msgid"))
    },

    QueryDef("q_zorder_box",
      // the layout-independent truth of the two-dimensional box read
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |       CAST(year(ts)*1000 + dayofyear(ts) AS BIGINT) AS pid
        |FROM events
        |WHERE user_id BETWEEN 3 AND 10
        |  AND year(ts)*1000 + dayofyear(ts) BETWEEN 2024010 AND 2024020
        |ORDER BY event_id""".stripMargin) { (s, dir) => // Z-order layout round trip: events
      // re-clustered on the (user_id, pid) interleaved-bit key, read back
      // through a two-dimensional box filter. The result is
      // layout-independent, so the oracle gates read correctness;
      // LayoutSpec gates the pruning property (footer min/max tight on
      // BOTH dimensions) that is the feature's reason to exist at 100 TB.
      val out = scratchDir("zorder")
      try {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("ts_us"),
            col("pid").cast("long").as("pid"))
        graft.sources.Layout.writeZOrdered(ev, s"$out/z", "user_id", "pid",
          bits = 21, nFiles = 8)
        s.read.parquet(s"$out/z")
          .filter(col("user_id").between(3, 10) && col("pid").between(2024010L, 2024020L))
          .select(col("user_id"), col("event_id"), col("ts_us"), col("pid"))
          .orderBy(col("event_id"))
          // eager: the box-filtered readback (small by construction) is
          // materialized before the table copy is deleted — a bench rep
          // must not orphan a full events copy under /tmp per invocation
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    },

    QueryDef("q_stream_contamination",
      // the batch truth of the streamed pair set: per EVAL doc, distinct
      // shingles shared with the train corpus (the flipped view of
      // g_contamination's per-train-doc rollup)
      """WITH sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 <> 0)
        |SELECT s.doc_id AS eval_id, CAST(count(DISTINCT s.shingle) AS BIGINT) AS n_shared
        |FROM sh s JOIN tr USING (shingle)
        |WHERE s.doc_id % 97 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) => // stream-STATIC join: eval
      // docs stream in and are screened against the static train-corpus
      // shingle index as they land (the continuous benchmark-decontam
      // shape); the landed pair set rolled up per eval doc must equal the
      // batch shingle-overlap truth. Stateless append — no watermark, no
      // join state; the static side re-plans per micro-batch.
      val evalStream = stream(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(97)) === 0)
      val trainShingles = CurationOps.shingleRows(
          Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(97)) =!= 0),
          k = 3, hashed = false)
        .select(col("shingle")).distinct()
      drainToMemory(s, dir, "documents", "q_stream_contamination_sink", "append")(
          graft.streaming.StreamingOps.contaminationStream(evalStream, trainShingles))
        .groupBy(col("eval_id"))
        .agg(countDistinct(col("shingle")).as("n_shared"))
        .orderBy(col("eval_id"))
    },

    QueryDef("q_stream_decontam",
      // the stream lands exactly the threshold-flagged pairs; rolled up
      // per eval doc (argmax + flagged count) it must equal the brute
      // truth over the same split
      """WITH x AS (
        |  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS xv
        |  FROM embeddings WHERE label = 0),
        |y AS (
        |  SELECT vec_id AS train_id, CAST(embedding AS DOUBLE[]) AS yv
        |  FROM embeddings WHERE label = 1),
        |sc AS (
        |  SELECT eval_id, train_id,
        |    CAST(floor((list_dot_product(xv, yv) /
        |      (sqrt(list_dot_product(xv, xv)) * sqrt(list_dot_product(yv, yv)))) * 10000.0)
        |      AS BIGINT) AS s
        |  FROM x CROSS JOIN y),
        |fl AS (SELECT * FROM sc WHERE s >= 3000),
        |r AS (SELECT eval_id, train_id, s,
        |        row_number() OVER (PARTITION BY eval_id ORDER BY s DESC, train_id) AS rn,
        |        CAST(count(*) OVER (PARTITION BY eval_id) AS BIGINT) AS n_flagged
        |      FROM fl)
        |SELECT eval_id, train_id, CAST(s AS DOUBLE) / 1e4 AS sim, n_flagged
        |FROM r WHERE rn = 1 ORDER BY eval_id""".stripMargin) { (s, dir) =>
      // stream-static SEMANTIC
      // decontamination: eval embeddings stream in, probe ALL IVF cells
      // (probe-all = lossless, the g_decontam_ivf contract) against the
      // static train cell index, and every pair clearing the cosine
      // threshold lands exactly once — stateless append, no join state.
      // The per-eval argmax over the landed pairs must equal the batch
      // g_decontam rows' flagged subset; rolled up here per eval doc.
      val evalStream = stream(s, dir, "embeddings")
        .filter(col("label") === 0)
      val train = Tables.embeddings(s, dir).filter(col("label") === 1)
      drainToMemory(s, dir, "embeddings", "q_stream_decontam_sink", "append")(
          graft.streaming.StreamingOps.decontamStream(evalStream, train,
            centroids = fixtureCentroids(64), nProbe = KmFixtureK, threshold = 0.3))
        .groupBy(col("eval_id"))
        .agg(max(struct(col("sim"), (-col("train_id")).as("nt"),
          col("train_id").as("t"))).as("m"),
          count(lit(1)).as("n_flagged"))
        .select(col("eval_id"), col("m.t").as("train_id"),
          col("m.sim").as("sim"), col("n_flagged"))
        .orderBy(col("eval_id"))
    },

    QueryDef("q_stream_attrib",
      // the batch truth of the streamed pair set: same-user views in the
      // 6h window preceding each purchase (inclusive both ends)
      """SELECT p.event_id AS purchase_id, count(*) AS n_views,
        |       min(v.event_id) AS first_view_id
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id
        | AND p.event_type = 'purchase' AND v.event_type = 'view'
        | AND epoch_us(v.ts) BETWEEN epoch_us(p.ts) - 21600000000 AND epoch_us(p.ts)
        |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      // stream-stream attribution join:
      // purchases matched to the same user's views from the preceding 6h,
      // both sides watermarked, the time-range condition bounding join
      // state. The memory sink collects the append-mode pair stream; the
      // per-purchase rollup of those pairs must equal the batch self-join
      // the oracle computes — landing the pairs exactly once is the gate.
      val ev = stream(s, dir, "events")
      val src = ev.select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(Tables.tsToMicros(col("ts"), ev.schema("ts").dataType)).as("ts_t"))
      drainToMemory(s, dir, "events", "q_stream_attrib_sink", "append")(
          graft.streaming.StreamingOps.attributionPairs(src, srcType = "view", tgtType = "purchase"))
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_views"), min(col("view_id")).as("first_view_id"))
        .orderBy(col("purchase_id"))
    },

    QueryDef("q_stream_sessions",
      // session_window semantics: a gap >= 6h STARTS a new session
      // (strict-< merge), unlike the batch sessionizer's > — encoded
      // exactly here
      """WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS prev_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts_us,
        |         CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 21600000000 THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY ts_us
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM t)
        |SELECT user_id, min(ts_us) AS start_us, max(ts_us) AS last_us,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin) { (s, dir) => // streaming sessionization:
      // session_window merges events with gaps < 6h per user — the
      // stateful merging-window shape (state = open sessions only, bounded
      // by the watermark horizon at scale). Boundary semantics differ from
      // the batch sessionizer by design: session_window starts a NEW
      // session at gap == 6h exactly (strict <), and the oracle encodes
      // that (>= starts a session), so the gate is exact, not approximate.
      val ev = stream(s, dir, "events")
      val src = ev.select(col("user_id"),
        timestamp_micros(Tables.tsToMicros(col("ts"), ev.schema("ts").dataType)).as("ts_t"))
      drainToMemory(s, dir, "events", "q_stream_sessions_sink", "complete")(
          graft.streaming.StreamingOps.sessionCounts(src))
        .select(col("user_id"), col("start_us"), col("last_us"), col("n_events"))
        .orderBy(col("user_id"), col("start_us"))
    },

    QueryDef("q_stream_index",
      // identical to q_index_build: the streaming maintenance path must
      // land exactly the batch derivation
      oracleSqlIndexBuild) { (s, dir) => // streaming A6/E5: continuous index
      // maintenance — each micro-batch is projected through the batch A6
      // derivation and landed in the (et, pid) layout via foreachBatch
      // (StreamingOps.indexTo); readback of the persisted index must equal
      // the batch derivation, so it shares q_index_build's oracle
      val out = scratchDir("q_stream_index")
      val ev = stream(s, dir, "events")
      val src = ev.select( // test-table -> canonical event columns (FIXTURES.md §2)
        col("event_type").as("et"),
        col("user_id").as("id"),
        col("event_id").as("rev"),
        lit(0).as("pos"),
        TimeFns.microsToFileTime(Tables.tsToMicros(col("ts"), ev.schema("ts").dataType)).as("ts"))
      drain(s, dir, "events")(
        graft.streaming.StreamingOps.indexTo(src, s"$out/index", s"$out/ckpt"))
      s.read.parquet(s"$out/index")
        .select(col("et"), col("pid"), col("aid"), col("rev").as("eid"),
          TimeFns.fileTimeToMicros(col("ts")).as("ts_us"))
        .orderBy(col("et"), col("pid"), col("ts_us"), col("eid"))
    },

    QueryDef("q_generation_delete",
      // the durable-delete lifecycle must leave exactly the non-tombstoned
      // rows visible through the manifest
      """SELECT user_id, CAST(event_id AS INT) AS event_id, epoch_us(ts) AS ts_us
        |FROM events WHERE user_id <> 7
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) => // A5, object-store flavor,
      // end-to-end: land the log as generation 1 (bucketed + _CURRENT
      // manifest), tombstone every event of aggregate 7, deleteAndPromote
      // (rewrites ONLY bucket(7) into generation 2, atomic manifest swap),
      // then read back through the manifest — must equal the oracle's
      // WHERE user_id <> 7 over the source table
      val root = scratchDir("gen") + "/events"
      val log = Tables.eventLog(s, dir).drop("et")
        .withColumn("id", col("id").cast("string").cast("binary"))
      graft.sources.Generations.bootstrap(s, root, log, nBuckets = 16)
      val tomb = log.filter(col("id") === lit("7".getBytes)).select("id", "rev", "pos")
      graft.sources.Generations.deleteAndPromote(s, root, tomb, nBuckets = 16)
      graft.sources.Generations.readCurrent(s, root)
        .select(
          col("id").cast("string").cast("long").as("user_id"),
          col("rev").as("event_id"),
          TimeFns.fileTimeToMicros(col("ts")).as("ts_us"))
        .orderBy(col("user_id"), col("event_id"))
    },

    QueryDef("q_generation_diff",
      // the delete's change set is exactly aggregate 7's rows, all
      // 'removed' (nothing added): the manifest-pruned diff must
      // reconstruct it without replaying the operation
      """SELECT user_id, CAST(event_id AS INT) AS event_id,
        |       'removed' AS change
        |FROM events WHERE user_id = 7
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) => // time-travel DIFF between two
      // promotes: bootstrap (v1), delete aggregate 7 (v2), then
      // Generations.diff(1, 2) — resolved from the MANIFESTS, reading
      // only buckets whose entry changed (here: bucket(7) on both
      // sides), must report exactly aggregate 7's rows as 'removed'
      val root = scratchDir("gendiff") + "/events"
      val log = Tables.eventLog(s, dir).drop("et")
        .withColumn("id", col("id").cast("string").cast("binary"))
      graft.sources.Generations.bootstrap(s, root, log, nBuckets = 16)
      val tomb = log.filter(col("id") === lit("7".getBytes)).select("id", "rev", "pos")
      graft.sources.Generations.deleteAndPromote(s, root, tomb, nBuckets = 16)
      graft.sources.Generations.diff(s, root, vOld = 1, vNew = 2)
        .select(
          col("id").cast("string").cast("long").as("user_id"),
          col("rev").as("event_id"),
          col("change"))
        .orderBy(col("user_id"), col("event_id"))
    },

    QueryDef("q_stream_versioned",
      // the q_stream_counters shape, post-delete, over the versioned
      // layout: the streamed-then-deleteAndPromoted table must read back
      // as the batch truth minus aggregate 7
      """SELECT event_type AS msgid, count(*) AS cv
        |FROM events WHERE user_id <> 7
        |GROUP BY event_type ORDER BY msgid""".stripMargin) { (s, dir) =>
      // round-9 verdict #2, oracle side:
      // streaming ingest composed with the Generations MVCC tier. The
      // events stream lands through ingestToVersioned (each micro-batch =
      // appendAndPromote under conflict retry), then a deleteAndPromote
      // removes aggregate 7 and the manifest-resolved readback must equal
      // the batch oracle over user_id <> 7 — the q_stream_counters shape
      // (counts per type) over the versioned layout. The CONCURRENT
      // stream-vs-delete race is StreamingGenerationsSpec; this gates the
      // composed data path end-to-end against DuckDB.
      val out = scratchDir("q_stream_versioned")
      val root = s"$out/events"
      val ev = stream(s, dir, "events")
      val src = ev.select( // test-table -> canonical event columns (FIXTURES.md §2)
        col("user_id").cast("string").cast("binary").as("id"),
        col("event_id").cast("int").as("rev"),
        lit(0).as("pos"),
        TimeFns.microsToFileTime(Tables.tsToMicros(col("ts"), ev.schema("ts").dataType)).as("ts"),
        col("event_type").cast("binary").as("data"))
      drain(s, dir, "events")(graft.streaming.StreamingOps
        .ingestToVersioned(src, root, s"$out/ckpt", nBuckets = 16))
      val tomb = graft.sources.Generations.readCurrent(s, root)
        .filter(col("id") === lit("7".getBytes)).select("id", "rev", "pos")
      graft.sources.Generations.deleteAndPromote(s, root, tomb, nBuckets = 16)
      graft.sources.Generations.readCurrent(s, root)
        .groupBy(col("data").cast("string").as("msgid"))
        .agg(count(lit(1)).as("cv"))
        .orderBy(col("msgid"))
    },

    QueryDef("q_stream_curated",
      // the streaming curated landing must equal the batch paragraph-dedup
      // truth — g_para_dedup's oracle verbatim (same chunking, same
      // first-occurrence-wins, same ordered reassembly)
      oracleSqlParaDedup) { (s, dir) => // round-10 verdict #2: the streaming
      // curated landing, oracle side — an AvailableNow run of curatedIngest
      // lands documents through the per-batch dedup-against-index path
      // (idempotent batch-id-derived layout, pb-bucketed paragraph-key
      // index), and the docs readback must equal the BATCH paragraphDedup
      // truth (g_para_dedup's oracle; the single source file arrives as one
      // micro-batch — cross-batch/cross-run frontier semantics are
      // StreamingCurationSpec's job)
      val out = scratchDir("q_stream_curated")
      val src = stream(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .curatedIngest(src, s"$out/curated", s"$out/ckpt"))
      s.read.parquet(s"$out/curated/docs")
        .select(col("doc_id"), col("clean_text"), col("n_kept"), col("n_dropped"))
        .orderBy(col("doc_id"))
    },

    QueryDef("q_stream_card",
      // the streamed card shares the batch card's truth
      oracleSqlDatasetCard) { (s, dir) => // streaming dataset card: an
      // AvailableNow run lands per-batch partial sums + distinct key
      // digests; the merged read must equal the BATCH datasetCard over
      // the same corpus (g_dataset_card's oracle verbatim). Cross-batch
      // merge/replay/fold semantics are CardStreamSpec's job.
      val out = scratchDir("q_stream_card")
      val src = stream(s, dir, "documents")
        .select(col("source"), col("lang"), col("text"))
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .cardStream(src, s"$out/card", s"$out/ckpt"))
      graft.streaming.StreamingOps.readCard(s, s"$out/card")
        .orderBy(col("source"))
    },

    QueryDef("q_stream_budget",
      // the single-batch budget landing shares g_token_budget's
      // single-window truth (same budget, seed, permutation order)
      oracleSqlTokenBudget) { (s, dir) => // token-budget-capped streaming
      // ingest: an AvailableNow run admits documents until the lifetime
      // budget (9000 tokens, seed-7 permutation order) — the single-batch
      // case IS the batch tokenBudgetSample, so it shares g_token_budget's
      // single-window oracle. Cross-batch frontier/replay semantics are
      // BudgetStreamSpec's job.
      val out = scratchDir("q_stream_budget")
      val src = stream(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .budgetIngest(src, s"$out/budget", s"$out/ckpt",
          budgetTokens = 9000L, seed = 7L, nRanges = 8))
      s.read.schema("doc_id LONG, sort_key LONG, n_tokens LONG")
        .option("basePath", s"$out/budget/docs").parquet(s"$out/budget/docs")
        .select(col("doc_id"), col("sort_key"), col("n_tokens"))
        .orderBy(col("doc_id"))
    },

    QueryDef("q_stream_quantiles",
      // the streamed histogram shares the batch exact-quantile truth
      oracleSqlExactQuantiles) { (s, dir) => // streaming EXACT quantiles: an
      // AvailableNow run lands per-batch (lang, n_chars) count-histogram
      // partials; rank selection over the merged histogram must equal
      // the batch exact-quantile truth (g_exact_quantiles' oracle
      // verbatim). Cross-batch merge/replay/fold are QuantileStreamSpec's.
      val out = scratchDir("q_stream_quant")
      val src = stream(s, dir, "documents")
        .select(col("lang"), col("n_chars"))
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .quantileStream(src, s"$out/hist", s"$out/ckpt"))
      graft.streaming.StreamingOps
        .readQuantiles(s, s"$out/hist", ps = Seq(0.25, 0.5, 0.75))
        .orderBy(col("lang"))
    },

    QueryDef("q_stream_topk",
      // the streamed heavy-hitter state shares the batch sketch's truth:
      // exact recount while the vocabulary fits the tracked slots,
      // deterministic tie-break (count desc, token asc) on both sides
      oracleSqlSketchTopK) { (s, dir) => // streaming heavy hitters: an
      // AvailableNow run lands one fixed-size frequent-items state per
      // micro-batch; the combined estimate must equal exact counts while
      // the vocabulary fits the tracked slots (g_sketch_topk's oracle
      // verbatim — the streamed state merges to the batch sketch).
      // Cross-batch merge/replay/fold semantics are TopkStreamSpec's job.
      val out = scratchDir("q_stream_topk")
      val src = stream(s, dir, "documents")
        .select(col("text"))
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .topkStream(src, s"$out/topk", s"$out/ckpt", maxTracked = 1024))
      graft.streaming.StreamingOps.readTopK(s, s"$out/topk", k = 10)
    },

    QueryDef("q_stream_ivf",
      // probe-all over the STREAMED versioned layout == brute force (the
      // g_sim_ivf_indexed contract, landing through ivfIndexStream)
      oracleSqlSimTopK) { (s, dir) => // streaming ANN-index maintenance,
      // oracle side: an AvailableNow run of ivfIndexStream lands the
      // embeddings in the versioned cell-partitioned IVF layout
      // (batch-id-derived Overwrite directories — idempotent under
      // checkpoint replay), and a probe-ALL read over the STREAMED index
      // must equal brute force — the g_sim_ivf_indexed losslessness
      // contract extended over the streaming landing. Cross-batch
      // replay/fold semantics are StreamingIvfSpec's job.
      val e = Tables.embeddings(s, dir)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val centroids = SimilarityOps.ivfCentroids(e, k = 16, nIters = 2)
      val out = scratchDir("q_stream_ivf")
      val src = stream(s, dir, "embeddings")
      drain(s, dir, "embeddings")(graft.streaming.StreamingOps
        .ivfIndexStream(src, centroids, s"$out/index", s"$out/ckpt"))
      SimilarityOps.ivfTopKIndexed(s, s"$out/index", centroids, qv, 20, nProbe = 16)
    },

    QueryDef("q_stream_knn",
      // the resolved streamed graph at probe-all == the brute-force graph
      // (g_knn_graph's truth, landing through knnGraphStream)
      oracleSqlKnnBruteForce) { (s, dir) => // streaming k-NN graph maintenance,
      // oracle side: an AvailableNow run of knnGraphStream lands the
      // embeddings as a versioned corpus + edge-delta layout, and the
      // RESOLVED read at probe-all must equal brute force — g_knn_graph's
      // losslessness contract extended over the streaming landing (shares
      // its oracle). Multi-batch fold/replay/compaction semantics are
      // KnnStreamSpec's job.
      val e = Tables.embeddings(s, dir)
      val centroids = SimilarityOps.ivfCentroids(e, k = 16, nIters = 2)
      val out = scratchDir("q_stream_knn")
      val src = stream(s, dir, "embeddings")
      drain(s, dir, "embeddings")(graft.streaming.StreamingOps
        .knnGraphStream(src, centroids, k = 5,
          nProbe = if (oracleScale(dir)) 16 else 4, s"$out/graph", s"$out/ckpt"))
      graft.streaming.StreamingOps.readKnnGraph(s, s"$out/graph")
        .orderBy(col("vec_id"), col("rank"))
    },

    QueryDef("q_stream_pq",
      // probe-all over the STREAMED codes-only layout == the full ADC scan
      pqOracleSql(pruned = false)) { (s, dir) => // streaming IVF-PQ index maintenance,
      // oracle side: an AvailableNow run of pqIndexStream lands the
      // embeddings as codes-only cell-partitioned deltas, and a probe-ALL
      // read over the STREAMED index must equal the full ADC scan —
      // g_sim_pq_indexed's losslessness contract over the streaming
      // landing (shares g_sim_pq's oracle). Cross-batch replay/fold/drift
      // semantics are PqStreamSpec's job.
      val e = Tables.embeddings(s, dir)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val out = scratchDir("q_stream_pq")
      val src = stream(s, dir, "embeddings")
      drain(s, dir, "embeddings")(graft.streaming.StreamingOps
        .pqIndexStream(src, fixtureCentroids(64), fixturePqCodebooks(64),
          s"$out/index", s"$out/ckpt"))
      SimilarityOps.pqTopKIndexed(s, s"$out/index", fixtureCentroids(64),
        fixturePqCodebooks(64), qv, k = 20, nProbe = KmFixtureK)
    },

    QueryDef("q_stream_store",
      // the streamed landing shares the round-trip truth
      oracleSqlChunkStore) { (s, dir) => // streaming chunk-store ingest,
      // oracle side: an AvailableNow run of chunkStoreIngest lands the
      // corpus (as binary payloads) in the leveled CAS layout, and the
      // reassembled readback must digest-equal the ORIGINALS —
      // g_chunk_store's end-to-end round-trip contract over the
      // streaming landing. Cross-batch novel-only dedup, replay, drift
      // and compaction are ChunkStoreStreamSpec's job.
      val out = scratchDir("q_stream_store")
      val src = stream(s, dir, "documents")
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .chunkStoreIngest(MultimodalOps.mediaFromDocuments(src),
          s"$out/store", s"$out/ckpt"))
      MultimodalOps.readChunkStore(s, s"$out/store")
        .select(col("media_id"), md5(col("content")).as("content_md5"))
        .orderBy(col("media_id"))
    },

    QueryDef("q_stream_lsh",
      // identical truth to g_dedup_indexed: the streamed index is the same
      // materialization of the corpus band keys, landed per micro-batch
      oracleSqlDedupIncremental) { (s, dir) => // streaming LSH-index maintenance,
      // oracle side: an AvailableNow run of lshIndexStream signs the
      // corpus split into the versioned (band, bucket) layout, and an
      // increment probed against the STREAMED index must equal the exact
      // cross-split Jaccard truth — g_dedup_indexed's oracle verbatim
      // (banding is deterministic, so a streamed corpus signs identically
      // to a batch-built one). Cross-batch replay/fold semantics are
      // StreamingLshSpec's job.
      val docs = Tables.documents(s, dir)
      val out = scratchDir("q_stream_lsh")
      val src = stream(s, dir, "documents")
        .filter(col("doc_id") % 5 =!= 0) // the corpus split streams in
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .lshIndexStream(src, s"$out/lshidx", s"$out/ckpt", nBuckets = 16))
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      DedupOps.minHashNearDupsIndexed(
          docs.filter(col("doc_id") % 5 === 0), corpus, s"$out/lshidx",
          nBuckets = 16, threshold = 0.5)
        .orderBy(col("new_id"), col("corpus_id"))
    },

    QueryDef("q_stream_spans",
      // identical truth to g_dup_spans_incr: the streamed index is the
      // same source-tagged partial-count materialization of the corpus,
      // landed per micro-batch and final-merged by the probe
      oracleSqlDupSpansIncr) { (s, dir) => // streaming shingle-count index
      // maintenance, oracle side: an AvailableNow run of shingleIndexStream
      // lands the corpus split's source-tagged partial counts, and the
      // increment's span probe against the STREAMED index must equal the
      // union-truth — g_dup_spans_incr's oracle verbatim (counts are
      // deterministic and the probe final-merges the partials, so a
      // streamed corpus counts identically to a batch-signed one).
      // Cross-batch replay/fold semantics are SpanIndexSpec's job.
      val docs = Tables.documents(s, dir)
      val out = scratchDir("q_stream_spans")
      val src = stream(s, dir, "documents")
        .filter(col("doc_id") % 5 =!= 0) // the corpus split streams in
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .shingleIndexStream(src, s"$out/spanidx", s"$out/ckpt", k = 3, nPb = 8, hashed = false))
      TextOps.duplicatedSpansAgainst(docs.filter(col("doc_id") % 5 === 0),
          s"$out/spanidx", k = 3, minSpanTokens = 8, hashed = false)
        .orderBy(col("doc_id"), col("start_tok"))
    },

    QueryDef("q_stream_cc",
      // the recursive component truth over the CORPUS SPLIT's exact
      // shingle-Jaccard pairs — what the streamed loop's newest
      // assignment version must reproduce
      s"""WITH RECURSIVE ${shingleReachCtesSql("documents\n        WHERE doc_id % 5 <> 0")}
        |SELECT a AS doc_id, min(b) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // the full streaming dedup-clustering
      // loop, oracle side: an AvailableNow clusterIngest run over the
      // corpus split (self-join pairs + LSH-index cross pairs folded into
      // the versioned assignment per batch); the newest assignment version
      // must equal the recursive-CTE component truth over the corpus
      // split's exact-Jaccard pairs. Multi-batch/replay/lineage semantics
      // are ClusterStreamSpec's job.
      val out = scratchDir("q_stream_cc")
      val src = stream(s, dir, "documents")
        .filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("text"))
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .clusterIngest(src, s"$out/loop", s"$out/ckpt", nBuckets = 8,
          nDocBuckets = 8)) // both bucket counts sized to the fixture sf
      graft.streaming.StreamingOps.currentAssignment(s, s"$out/loop")
        .orderBy(col("doc_id"))
    },

    QueryDef("q_stream_bloom",
      // identical truth again: the streamed sidecar OR-merges to the same
      // bits a batch-built sketch would set, and the probe is exact
      oracleSqlDedupIncrementalExact) { (s, dir) => // streaming Bloom-sidecar maintenance,
      // oracle side: an AvailableNow run of bloomIndexStream sketches the
      // corpus split per micro-batch; the increment probed with the
      // OR-merged sketch through incrementalExactBloom must equal the
      // plain incremental-exact truth (no false negatives + exact confirm
      // — g_dedup_incremental_exact's oracle verbatim). Multi-batch
      // merge/replay/fold semantics are BloomStreamSpec's job.
      val docs = Tables.documents(s, dir)
      val out = scratchDir("q_stream_bloom")
      val src = stream(s, dir, "documents")
        .filter(col("doc_id") % 5 =!= 0) // the corpus split streams in
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .bloomIndexStream(src, s"$out/bloomidx", s"$out/ckpt",
          expectedItems = 1L << 10, fpp = 0.05))
      val sketch = graft.streaming.StreamingOps.readMergedBloom(s, s"$out/bloomidx")
      DedupOps.incrementalExactBloom(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0),
          sketch = Some(sketch))
        .orderBy(col("new_id"))
    },

    QueryDef("q_rev_monitor",
      // the monitor's per-aggregate sorted fold in closed form: scanning
      // revs ascending, last = max of the preceding revs (0 initially).
      // Tied revs: whichever tied row is scanned first is judged against
      // the prior max and the rest are conflicts — the output multiset is
      // identical for any tie order, so the total ORDER BY pins one form
      """WITH r AS (
        |  SELECT CAST(user_id AS VARCHAR) AS idB64, CAST(event_id AS INT) AS rev,
        |         COALESCE(CAST(max(event_id) OVER (
        |           PARTITION BY user_id ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS INT), 0) AS last
        |  FROM events)
        |SELECT idB64, rev,
        |       CASE WHEN rev = last + 1 THEN 'ok'
        |            WHEN rev <= last THEN 'conflict'
        |            ELSE 'gap' END AS status
        |FROM r ORDER BY idB64, rev, status""".stripMargin) { (s, dir) =>
      // streaming revision monitor as a
      // table (round-9 verdict #7): flatMapGroupsWithState run in BATCH
      // mode — the same code path the stream executes, state empty-initial,
      // each aggregate processed once — emitting one row per commit with
      // its optimistic-concurrency status (ok = rev exactly last+1,
      // conflict = replayed/duplicate rev, gap = skipped revs), the
      // reference's rev-based concurrency model as a queryable table.
      val ev = Tables.events(s, dir).select(
        col("user_id").cast("string").as("idB64"),
        col("event_id").cast("int").as("rev"))
      graft.streaming.StreamingOps.revisionMonitor(ev)
        .toDF("idB64", "rev", "status")
        .orderBy(col("idB64"), col("rev"), col("status"))
    },

    QueryDef("q_migration",
      """SELECT event_id, user_id, upper(event_type) AS et_migrated,
        |       CASE WHEN value >= 100 THEN 'public' ELSE 'private' END AS visibility,
        |       epoch_us(ts) + 1000000 AS ts_shifted_us
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      // E9: read-transform (migration reclassify)
      Tables.events(s, dir)
        .select(
          col("event_id"), col("user_id"),
          upper(col("event_type")).as("et_migrated"),
          when(col("value") >= 100, "public").otherwise("private").as("visibility"),
          (col("ts_us") + 1000000L).as("ts_shifted_us"))
        .orderBy(col("event_id"))
    },

    // ---- Canonical event-log API (binary id / rev / pos / FileTime) --
    // These route through Tables.eventLog + the EventStoreOps/IndexOps
    // operators, proving the canonical-schema library path against the
    // oracle (not just the raw-column queries above).
    QueryDef("q_canon_load",
      """SELECT CAST(event_id AS INT) AS rev, 0 AS pos, epoch_us(ts) AS ts_us,
        |       props AS data
        |FROM events WHERE user_id = 7 ORDER BY rev, pos""".stripMargin) { (s, dir) =>
      // B1 through the canonical API
      val log = Tables.eventLog(s, dir)
      graft.operators.EventStoreOps.loadAggregateEvents(log, lit(7L))
        .select(col("rev"), col("pos"),
          TimeFns.fileTimeToMicros(col("ts")).as("ts_us"), col("data"))
        .orderBy(col("rev"), col("pos"))
    },

    QueryDef("q_canon_streams", oracleSqlCanonStreams) { (s, dir) =>
      // E3/D5 through the canonical API
      graft.operators.EventStoreOps.aggregateStreams(Tables.eventLog(s, dir))
        .select(col("id"), col("n_events"),
          array_join(transform(col("stream.rev"), _.cast("string")), ",").as("revs_csv"))
        .orderBy(col("id"))
    },

    QueryDef("q_canon_streams_sorted", oracleSqlCanonStreams) { (s, dir) =>
      // E3's O(1)-memory variant
      // through the oracle: the locality-based mapPartitions run-length
      // grouping (the escape hatch for aggregates too large to
      // collect_list) must produce exactly what the hash-agg path does
      graft.operators.EventStoreOps.aggregateStreamsSorted(Tables.eventLog(s, dir))
        .select(col("id"), col("n_events"),
          array_join(transform(col("stream.rev"), _.cast("string")), ",").as("revs_csv"))
        .orderBy(col("id"))
    },

    QueryDef("q_canon_enumerate",
      s"""SELECT user_id AS id, CAST(event_id AS INT) AS rev,
         |       epoch_us(ts) AS ts_us, event_type AS et
         |FROM events
         |WHERE event_type = 'purchase' AND ts BETWEEN $SqlT10 AND $SqlT20
         |ORDER BY id, rev""".stripMargin) { (s, dir) => // E1 through the canonical API:
      // enumerateEventStore dispatches the typed request to the index
      // branch (readRange -> hint-free indexJoin back into the log) — the
      // full dispatch composition crosses the oracle, not just its parts
      val log = Tables.eventLog(s, dir)
      val idx = graft.operators.IndexOps.buildIndex(log)
      graft.operators.EventStoreOps.enumerateEventStore(
          log, idx, Some("purchase"),
          TimeFns.FileTimeEpochTicks + T10 * 10L,
          TimeFns.FileTimeEpochTicks + T20 * 10L)
        .select(col("id"), col("rev"),
          TimeFns.fileTimeToMicros(col("ts")).as("ts_us"), col("et"))
        .orderBy(col("id"), col("rev"))
    },

    QueryDef("q_event_gaps",
      """WITH g AS (
        |  SELECT user_id,
        |         epoch_us(ts) - lag(epoch_us(ts))
        |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_gaps,
        |       min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
        |       CAST(sum(gap_us) AS BIGINT) AS total_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      // inter-event time statistics per aggregate
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_gaps"),
          min("gap_us").as("min_gap_us"),
          max("gap_us").as("max_gap_us"),
          sum("gap_us").as("total_gap_us"))
        .orderBy(col("user_id"))
    },

    QueryDef("q_canon_index_range",
      s"""SELECT event_type AS et, CAST(year(ts)*1000 + dayofyear(ts) AS INT) AS pid,
         |       user_id AS aid, CAST(event_id AS INT) AS rev, epoch_us(ts) AS ts_us
         |FROM events
         |WHERE event_type = 'purchase' AND ts BETWEEN $SqlT10 AND $SqlT20
         |ORDER BY ts_us, rev""".stripMargin) { (s, dir) => // E4 through the canonical API
      val idx = graft.operators.IndexOps.buildIndex(Tables.eventLog(s, dir))
      graft.operators.IndexOps.readRange(
          idx, "purchase",
          TimeFns.FileTimeEpochTicks + T10 * 10L,
          TimeFns.FileTimeEpochTicks + T20 * 10L)
        .select(col("et"), col("pid"), col("aid"), col("rev"),
          TimeFns.fileTimeToMicros(col("ts")).as("ts_us"))
        .orderBy(col("ts_us"), col("rev"))
    },
  )
}
