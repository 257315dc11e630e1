package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{CounterOps, EventStoreOps}
import graft.sources.Storage

/** `replay_rebuild`: projection rebuilds over a larger seeded store. One
  * cycle replays each of the eight event types over a seven-day window
  * (`enumerateEventStore(Some(et))` -> `reassembleCommits`), enumerates the
  * whole store into per-aggregate streams, and folds the counter log.
  * Executor-bound work over few jobs: scans, the index join, the
  * reassembly shuffle. Each result is reduced to (rows, events, digest) by
  * one aggregation that reads every output column, standing in for the noop
  * sink so every rebuild is checked. */
object Replay {

  val Spec: StoreSpec = StoreSpec(aggregates = 20000, meanRevs = 7, days = 14, payloadMin = 40, payloadMax = 160)
  val Buckets = 64
  val Setups = 3
  val WindowDays = 7

  final case class Expect(rows: Long, events: Long, digest: Long)

  private def reduce(df: DataFrame, hashCols: Seq[String], eventsExpr: org.apache.spark.sql.Column): Expect = {
    val r = df.agg(count(lit(1)), sum(eventsExpr),
      sum(xxhash64(hashCols.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL)))).collect()(0)
    Expect(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    val w0 = 2 + new Gen.Rng(seed, 13, 0).below(Spec.days - WindowDays - 3)
    val after = Gen.Epoch + w0 * Gen.DayTicks
    val before = after + WindowDays * Gen.DayTicks - 1

    // expected results, computed from the generator alone
    val perType = scala.collection.mutable.Map.empty[String, Expect].withDefaultValue(Expect(0, 0, 0))
    var full = Expect(0, 0, 0)
    val typeCounts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var userBytes = 0L
    for (i <- 0 until Spec.aggregates) {
      val id = Gen.aggregateId(seed, i)
      val commits = Gen.aggregate(seed, Spec, i)
      var h = Gen.hBytes(id, 42L)
      var n = 0L
      commits.foreach { c =>
        c.rows.foreach { case (pos, e) =>
          h = Gen.hBytes(e.data, Gen.hLong(c.ts, Gen.hInt(pos, Gen.hInt(c.rev, h))))
          n += 1
          typeCounts(e.et) += 1
          userBytes += id.length + e.data.length
        }
        if (c.ts >= after && c.ts <= before)
          c.rows.groupBy(_._2.et).foreach { case (et, rows) =>
            val (priv, pub) = Gen.splitByOffset(rows.map { case (p, e) => (p, e.data) })
            val x = perType(et)
            perType(et) = Expect(x.rows + 1, x.events + rows.size,
              x.digest + Gen.low32(Gen.commitHash(id, c.rev, c.ts, priv, pub)))
          }
      }
      full = Expect(full.rows + 1, full.events + n, full.digest + Gen.low32(Gen.hLong(n, h)))
    }
    val events = full.events

    val (p, times) = PointLoad.setUp(ctx, Spec, Buckets, Setups, withCounters = true)
    PointLoad.recordSetup(ctx, p, times, userBytes, events)
    val (_, eventFiles) = Store.du(p.events)
    val (_, indexFiles) = Store.du(p.index)

    def check(what: String, want: Expect)(got: Any): Option[String] = {
      val g = got.asInstanceOf[Expect]
      if (g == want) None else Some(s"$what: got $g, want $want")
    }
    def replayType(et: String): Unit =
      ctx.op("replay_type") {
        val (ev, idx) = Trace.span("sources", "readEvents") {
          (Storage.readEvents(spark, p.events), Storage.readEvents(spark, p.index))
        }
        val re = Trace.span("plans", "enumerate+reassemble") {
          EventStoreOps.reassembleCommits(EventStoreOps.enumerateEventStore(ev, idx, Some(et), after, before))
        }
        Trace.span("exec", "digest") {
          reduce(re, Seq("id", "rev", "ts", "events", "publicEvents"), size(col("events")) + size(col("publicEvents")))
        }
      }(check(s"replay $et", perType(et)))
    def replayFull(): Unit =
      ctx.op("replay_full") {
        val ev = Trace.span("sources", "readEvents") { Storage.readEvents(spark, p.events) }
        val st = Trace.span("plans", "enumerate+aggregateStreams") {
          EventStoreOps.aggregateStreams(
            EventStoreOps.enumerateEventStore(ev, ev, None, Long.MinValue, Long.MaxValue))
        }
        Trace.span("exec", "digest") { reduce(st, Seq("id", "stream", "n_events"), col("n_events")) }
      }(check("replay_full", full))
    def foldCounters(): Unit =
      ctx.op("counters") {
        val log = Trace.span("sources", "readEvents") { Storage.readEvents(spark, p.counters) }
        val c = Trace.span("plans", "counters") { CounterOps.counters(log) }
        Trace.span("exec", "collect") { c.collect().map(r => r.getString(0) -> r.getLong(1)).toMap }
      } { got =>
        val g = got.asInstanceOf[Map[String, Long]]
        if (g == typeCounts.toMap) None else Some(s"counters: got $g, want ${typeCounts.toMap}")
      }
    def cycle(i: Int): Unit =
      if (i >= 0) { Gen.Types.foreach(replayType); replayFull(); foldCounters() }
      else { replayType(Gen.Types(0)); replayFull(); foldCounters() }

    // warm-up: one rebuild of each kind (index -1), then whole cycles
    cycle(-1)
    val (a, b) = ctx.measure(warmup = 0, minOps = 10)(cycle)
    // throughput over whole cycles only, so the op mix is the same in every run
    def perCycle(os: Seq[Op]) = os.grouped(10).filter(_.size == 10).toSeq
    val cyc = perCycle(a) ++ perCycle(b)
    val perCycleEvents = perType.values.map(_.events).sum + events
    ctx.out("ops") = (a ++ b).map(o => Map("kind" -> o.kind, "ms" -> o.ms, "phase" -> (if (b.contains(o)) "b" else "a")))
    ctx.out("cycles") = cyc.map(c => Map("ms" -> c.map(_.ms).sum, "events" -> perCycleEvents,
      "phase" -> (if (b.contains(c.head)) "b" else "a")))
    ctx.out("window") = Map("first_day" -> w0, "days" -> WindowDays,
      "type_events" -> perType.toSeq.sortBy(_._1).map { case (k, v) => k -> v.events }.toMap)
    if (ctx.traced) {
      val tableFiles: String => Long = {
        case "replay_type" => eventFiles + indexFiles
        case "counters" => Store.du(p.counters)._2
        case _ => eventFiles
      }
      ctx.out("layers") = Layers.summarize(b, tableFiles) ++ Map(
        "sources.append_events_ms" -> ctx.out("append_events_ms").asInstanceOf[Double],
        "sources.append_index_ms" -> ctx.out("append_index_ms").asInstanceOf[Double])
      ctx.out("layers_by_kind") = b.groupBy(_.kind).map { case (k, os) => k -> Layers.summarize(os, tableFiles) }
    }
  }
}
