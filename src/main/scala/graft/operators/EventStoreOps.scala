package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.Model

/** The reference's read/replay surface re-expressed as declarative DataFrame
  * transformations (SURVEY.md §2 B/D/E; file:line cites are into
  * /root/reference/src/One.Inception.EventStore.Cassandra/).
  *
  * Everything here is a pure LogicalPlan builder — no collects, no
  * driver-side loops — so Catalyst gets to push filters into the scan,
  * prune columns and partitions, and pick join strategies. At 100 TB the
  * per-aggregate reads stay cheap because the storage layout (Storage.scala)
  * bucket-partitions by aggregate id and sorts by (id, rev, pos): a
  * `filter(id = x)` prunes to one bucket's files and row-groups.
  */
object EventStoreOps {

  /** B1 `LoadAggregateEventsQuery` (CassandraEventStore.cs:483-490): all
    * events of one aggregate in clustering order (rev, pos) ASC. */
  def loadAggregateEvents(events: DataFrame, aggregateId: Column): DataFrame =
    events.filter(col("id") === aggregateId)
      .select("rev", "pos", "ts", "data")
      .orderBy("rev", "pos")

  /** B4 `LoadAggregateEventsWithinSpecifiedRevisionsQuery`
    * (CassandraEventStore.cs:510-517): same partition, reverse order. */
  def loadAggregateEventsDesc(events: DataFrame, aggregateId: Column): DataFrame =
    events.filter(col("id") === aggregateId)
      .select("rev", "pos", "ts", "data")
      .orderBy(col("rev").desc, col("pos").desc)

  /** B2 `LoadEventQuery` (CassandraEventStore.cs:474-481): point lookup. */
  def loadEvent(events: DataFrame, aggregateId: Column, rev: Column, pos: Column): DataFrame =
    events.filter(col("id") === aggregateId && col("rev") === rev && col("pos") === pos)
      .select("data", "ts")

  /** B3 `LoadAggregateEventsRebuildQuery` (CassandraEventStore.cs:519-526):
    * narrowest projection — payload only. */
  def loadForRebuild(events: DataFrame, aggregateId: Column, rev: Column, pos: Column): DataFrame =
    events.filter(col("id") === aggregateId && col("rev") === rev && col("pos") === pos)
      .select("data")

  /** B5 client-side time-range filter (CassandraEventStore.cs:440) —
    * inclusive on both ends. In the reference this runs client-side after a
    * full scan because `ts` is not in the clustering key; here Catalyst
    * pushes it into the parquet scan (min/max row-group skipping). */
  def filterTimeRange(events: DataFrame, afterFt: Long, beforeFt: Long): DataFrame =
    events.filter(col("ts").between(afterFt, beforeFt))

  /** E6 `LoadWithPagingAsync` (CassandraEventStore.cs:238-276): keyset
    * pagination over one aggregate's events. The reference uses opaque
    * Cassandra paging states; the keyset `(rev, pos) > last` predicate is
    * the deterministic, scale-safe equivalent (no offset scan). */
  def loadWithPaging(
      events: DataFrame,
      aggregateId: Column,
      lastKey: Option[(Int, Int)],
      take: Int,
      ascending: Boolean = true): DataFrame = {
    val base = events.filter(col("id") === aggregateId)
    val paged = lastKey match {
      case Some((r, p)) =>
        if (ascending)
          base.filter(struct(col("rev"), col("pos")) > struct(lit(r), lit(p)))
        else
          base.filter(struct(col("rev"), col("pos")) < struct(lit(r), lit(p)))
      case None => base
    }
    val ordered =
      if (ascending) paged.orderBy(col("rev"), col("pos"))
      else paged.orderBy(col("rev").desc, col("pos").desc)
    ordered.select("rev", "pos", "ts", "data").limit(take)
  }

  /** D5/E7 commit reassembly (AggregateCommitBlock.cs:33-76, driven by
    * CassandraEventStore.cs:195-216): group one aggregate's rows by revision,
    * order by pos, and split private vs public events by the pos-offset rule
    * — a private event's pos equals its index in the sorted commit; any gap
    * (PublicEventsOffset, Model.scala) marks the public tail.
    *
    * One shuffle on (id) with map-side partial aggregation; commits are
    * small (a handful of events), so collect_list per (id, rev) is bounded.
    * Over a single-partition input ([[graft.sources.Storage.readAggregate]])
    * neither the aggregation nor the final order plans an exchange: the
    * load and its reassembly are one job. The output columns are built in
    * one projection, so the plan is analysed once for them. For
    * pathological aggregates, the typed flatMapGroups variant below streams
    * instead. */
  def reassembleCommits(events: DataFrame): DataFrame =
    events
      .groupBy(col("id"), col("rev"))
      .agg(
        min("ts").as("ts"),
        sort_array(collect_list(struct(col("pos"), col("data")))).as("all_events"))
      .select(
        col("id"), col("rev"), col("ts"),
        filter(col("all_events"), (e, i) => e.getField("pos") === i).as("events"),
        filter(col("all_events"), (e, i) => e.getField("pos") =!= i).as("publicEvents"))
      .orderBy("id", "rev")

  /** E3 per-aggregate stream grouping (CassandraEventStore.cs:336-391): all
    * events of each aggregate as one ordered array. The reference relies on
    * Cassandra partition locality + a row buffer; here it is a hash
    * aggregation — no ordering assumption needed, and the shuffle is the
    * same one the storage layout already bucketed. */
  def aggregateStreams(events: DataFrame): DataFrame =
    events
      .groupBy(col("id"))
      .agg(
        sort_array(collect_list(struct(col("rev"), col("pos"), col("ts"), col("data")))).as("stream"),
        count(lit(1)).as("n_events"))

  /** E3 locality-based variant of aggregateStreams, mirroring the
    * reference's actual algorithm (CassandraEventStore.cs:336-391): rows
    * arrive clustered by aggregate and ordered (rev, pos); consecutive
    * runs of one id become one stream. Here the clustering is established
    * by repartition + sortWithinPartitions, then a single mapPartitions
    * pass groups runs with O(one aggregate) memory — the 100 TB escape
    * hatch when collect_list per key would not fit (SURVEY.md §7 risk 5). */
  def aggregateStreamsSorted(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = events.sparkSession
    val in = events.select("id", "rev", "pos", "ts", "data")
    // id/data types follow the input schema: the canonical log carries
    // binary ids/payloads, the driver test tables long ids/string payloads
    val idType = in.schema("id").dataType
    val dataType = in.schema("data").dataType
    val streamElem = StructType(Seq(
      StructField("rev", IntegerType), StructField("pos", IntegerType),
      StructField("ts", LongType), StructField("data", dataType)))
    val outSchema = StructType(Seq(
      StructField("id", idType),
      StructField("stream", ArrayType(streamElem)),
      StructField("n_events", LongType)))
    val sorted = in
      .repartition(col("id"))
      .sortWithinPartitions(col("id"), col("rev"), col("pos"))
    def sameId(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case (x, y) => x == y
    }
    val rdd = sorted.rdd.mapPartitions { rows =>
      new Iterator[org.apache.spark.sql.Row] {
        private val it = rows.buffered
        def hasNext: Boolean = it.hasNext
        def next(): org.apache.spark.sql.Row = {
          val id = it.head.get(0)
          val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          while (it.hasNext && sameId(it.head.get(0), id)) {
            val r = it.next()
            buf += org.apache.spark.sql.Row(r.getInt(1), r.getInt(2), r.getLong(3), r.get(4))
          }
          org.apache.spark.sql.Row(id, buf.toSeq, buf.size.toLong)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** E5 PlayerOperator fan-out (CassandraEventStore.cs:283-334): the
    * reference pushes per-event / per-aggregate callbacks with bounded
    * client concurrency; in Spark the executor pool IS the concurrency and
    * foreachPartition is the side-effect seam. Prefer composing
    * transformations; this exists for replay-into-external-system parity
    * (the migrator's use case, Migrations/MigrateEventStore.cs:51-88). */
  def replayForeach(events: DataFrame)(onEvent: org.apache.spark.sql.Row => Unit): Unit =
    events.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      rows.foreach(onEvent)
    }

  /** C1 core — the ONLY construction site for the index→events lookup join
    * (CassandraEventStore.cs:278-334; the reference issues one network
    * round-trip per index record, here it is a single equi-join). `cond` is
    * the caller's key condition — the canonical log joins on (id, rev, pos),
    * the driver test tables on (user_id, event_id).
    *
    * Policy (pinned by PlanRegressionSpec): NEVER broadcast()-hint the index
    * side. A hint is honored regardless of estimated size, which at 100 TB
    * would force an unbounded index slice (month-long replay of a hot type)
    * into executor memory. Size-based selection + AQE broadcast the slice
    * when it is actually small and fall back to sort-merge when it is not. */
  def indexJoinOn(events: DataFrame, index: DataFrame, cond: Column): DataFrame =
    events.join(index, cond, "inner")

  /** C1 on the canonical schema: index records (aid, rev, pos) located in
    * the event log (id, rev, pos). */
  def indexJoin(events: DataFrame, index: DataFrame): DataFrame =
    indexJoinOn(
      events,
      index.select(col("aid"), col("rev").as("i_rev"), col("pos").as("i_pos")),
      col("id") === col("aid") && col("rev") === col("i_rev") && col("pos") === col("i_pos"))
      .drop("aid", "i_rev", "i_pos")

  /** C2 core — whole aggregates touched by an event type: a left-semi join
    * of the log against a pre-distinct'd key set (CassandraEventStore.cs:
    * 308-326, 393-414). Same no-hint policy as indexJoinOn: the touched-id
    * set of a hot event type is unbounded, so broadcast is AQE's call. */
  def semiJoinAggregatesOn(events: DataFrame, touchedKeys: DataFrame, cond: Column): DataFrame =
    events.join(touchedKeys, cond, "left_semi")

  /** E1 `EnumerateEventStore` dispatch (CassandraEventStore.cs:148-161):
    * full-store scan when no event type requested, index path otherwise.
    * Time bounds are FileTime longs, inclusive (B5). */
  def enumerateEventStore(
      events: DataFrame,
      index: DataFrame,
      eventTypeId: Option[String],
      afterFt: Long,
      beforeFt: Long): DataFrame =
    eventTypeId match {
      case None => filterTimeRange(events, afterFt, beforeFt)
      case Some(et) =>
        val idx = IndexOps.readRange(index, et, afterFt, beforeFt)
        indexJoin(filterTimeRange(events, afterFt, beforeFt), idx)
    }

  /** E9 migration replay (Migrations/MigrateEventStore.cs:27-93): classic
    * read-transform-write. `transform` is the caller's per-commit migration;
    * the write side goes through Storage.appendEvents. */
  def migrate(sourceEvents: DataFrame)(transform: DataFrame => DataFrame): DataFrame =
    transform(reassembleCommits(sourceEvents))
}
