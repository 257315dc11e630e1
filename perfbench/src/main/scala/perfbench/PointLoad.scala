package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{EventStoreOps, IndexOps}
import graft.sources.Storage

/** `point_load`: one closed-loop client against a seeded store, Zipf-skewed
  * aggregate ids, a 60/20/10/10 mix of per-aggregate load, page, point read
  * and index range. Each op does little executor work, so its time is file
  * listing, analysis, planning and job scheduling. */
object PointLoad {

  val Spec: StoreSpec = StoreSpec(aggregates = 2000, meanRevs = 7, days = 14, payloadMin = 40, payloadMax = 160)
  val Buckets = 64
  val Setups = 3
  val PageTake = 10
  /** The op mix in a fixed order, so every run and seed does the same
    * 60/20/10/10 share of load, page, point read and index range. */
  val Mix: Vector[String] = Vector("load", "page", "load", "point", "load", "page", "load", "range", "load", "load")

  /** Write the seeded store `setups` times, each into a fresh root, and keep
    * the last. Returns its paths and the per-set-up times. */
  def setUp(ctx: Ctx, spec: StoreSpec, buckets: Int, setups: Int, withCounters: Boolean): (StorePaths, Seq[SetupTimes]) = {
    val times = (1 to setups).map { k =>
      val root = s"${ctx.work}/store$k"
      Store.deleteTree(root)
      val t = Store.write(ctx.spark, root, ctx.seed, spec, buckets, ctx.cpus * 2, withCounters)
      if (k > 1) Store.deleteTree(s"${ctx.work}/store${k - 1}")
      t
    }
    (StorePaths(s"${ctx.work}/store$setups"), times)
  }

  def recordSetup(ctx: Ctx, p: StorePaths, times: Seq[SetupTimes], userBytes: Long, events: Long): Unit = {
    val (eb, ef) = Store.du(p.events)
    val (ib, inf) = Store.du(p.index)
    ctx.out("setups_s") = times.map(_.totalS)
    ctx.out("setup_s") = ctx.sessionS + Stats.median(times.map(_.totalS))
    ctx.out("append_events_ms") = Stats.median(times.map(_.appendEventsMs))
    ctx.out("append_index_ms") = Stats.median(times.map(_.appendIndexMs))
    ctx.out("store") = Map("events" -> events, "user_bytes" -> userBytes,
      "event_bytes" -> eb, "event_files" -> ef, "index_bytes" -> ib, "index_files" -> inf,
      "bytes_per_user_byte" -> (eb + ib).toDouble / userBytes)
  }

  /** Zipf(1.0) sampler over `n` ranks, mapped through a seeded permutation
    * so the hot aggregates are spread over the store. */
  final class Zipf(n: Int, seed: Long) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / (k + 1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    private val perm = {
      val r = new Gen.Rng(seed, 7, 0)
      val a = Array.range(0, n)
      for (i <- n - 1 to 1 by -1) { val j = r.below(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    def draw(u: Double): Int = {
      val k = java.util.Arrays.binarySearch(cdf, u)
      perm(math.min(n - 1, if (k >= 0) k else -k - 1))
    }
  }

  private def bytesEq(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.equals(a, b)

  private def checkCommits(got: Array[Row], id: Array[Byte], want: Vector[GCommit]): Option[String] = {
    if (got.length != want.size) return Some(s"load: ${got.length} commits, want ${want.size}")
    got.zip(want).collectFirst {
      case (r, c) if !bytesEq(r.getAs[Array[Byte]]("id"), id) || r.getAs[Int]("rev") != c.rev ||
          r.getAs[Long]("ts") != c.ts ||
          !sameEvents(r.getSeq[Row](r.fieldIndex("events")), c.rows.take(c.events.size)) ||
          !sameEvents(r.getSeq[Row](r.fieldIndex("publicEvents")), c.rows.drop(c.events.size)) =>
        s"load: commit rev ${c.rev} differs"
    }
  }

  private def sameEvents(got: Seq[Row], want: Seq[(Int, GEvent)]): Boolean =
    got.size == want.size && got.zip(want).forall { case (r, (pos, e)) =>
      r.getAs[Int]("pos") == pos && bytesEq(r.getAs[Array[Byte]]("data"), e.data) }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    // expected index contents per (type, day): count and digest of (aid, rev, pos, ts)
    val rangeCount = scala.collection.mutable.Map.empty[(String, Int), Long].withDefaultValue(0L)
    val rangeDigest = scala.collection.mutable.Map.empty[(String, Int), Long].withDefaultValue(0L)
    var userBytes = 0L
    var events = 0L
    for (i <- 0 until Spec.aggregates) {
      val id = Gen.aggregateId(seed, i)
      Gen.aggregate(seed, Spec, i).foreach { c =>
        val day = ((c.ts - Gen.Epoch) / Gen.DayTicks).toInt
        c.rows.foreach { case (pos, e) =>
          val k = (e.et, day)
          rangeCount(k) += 1
          rangeDigest(k) += rowDigest(id, c.rev, pos, c.ts)
          userBytes += id.length + e.data.length
          events += 1
        }
      }
    }
    val (p, times) = setUp(ctx, Spec, Buckets, Setups, withCounters = false)
    recordSetup(ctx, p, times, userBytes, events)
    val (_, eventFiles) = Store.du(p.events)
    val (_, indexFiles) = Store.du(p.index)

    val zipf = new Zipf(Spec.aggregates, seed)
    val rng = new Gen.Rng(seed, 11, 0)

    def step(i: Int): Unit = {
      val agg = zipf.draw(rng.unit())
      val id = Gen.aggregateId(seed, agg)
      val want = Gen.aggregate(seed, Spec, agg)
      val allRows = want.flatMap(c => c.rows.map { case (pos, e) => (c.rev, pos, c.ts, e) })
      val kind = Mix(i % Mix.size)
      if (kind == "load") {
        ctx.op("load") {
          val df = Trace.span("sources", "readAggregate") { Storage.readAggregate(spark, p.events, id, Buckets) }
          val re = Trace.span("plans", "reassembleCommits") { EventStoreOps.reassembleCommits(df) }
          Trace.span("exec", "collect") { re.collect() }
        } { got => checkCommits(got.asInstanceOf[Array[Row]], id, want) }
      } else if (kind == "page") {
        val k = rng.below(allRows.size + 1)
        val last = if (k == allRows.size) None else Some((allRows(k)._1, allRows(k)._2))
        val expect = last.fold(allRows)(l => allRows.filter(r => r._1 > l._1 || (r._1 == l._1 && r._2 > l._2)))
          .take(PageTake)
        ctx.op("page") {
          val ev = Trace.span("sources", "readEvents") {
            Storage.readEvents(spark, p.events).filter(col("bucket") === Storage.bucketOf(id, Buckets))
          }
          val pg = Trace.span("plans", "loadWithPaging") { EventStoreOps.loadWithPaging(ev, lit(id), last, PageTake) }
          Trace.span("exec", "collect") { pg.collect() }
        } { g =>
          val got = g.asInstanceOf[Array[Row]]
          val ok = got.length == expect.size && got.zip(expect).forall { case (r, (rev, pos, ts, e)) =>
            r.getAs[Int]("rev") == rev && r.getAs[Int]("pos") == pos && r.getAs[Long]("ts") == ts &&
              bytesEq(r.getAs[Array[Byte]]("data"), e.data)
          }
          if (ok) None else Some(s"page after $last: ${got.length} rows, want ${expect.size}")
        }
      } else if (kind == "point") {
        val (rev, pos, ts, e) = allRows(rng.below(allRows.size))
        ctx.op("point") {
          val ev = Trace.span("sources", "readEvents") {
            Storage.readEvents(spark, p.events).filter(col("bucket") === Storage.bucketOf(id, Buckets))
          }
          val pt = Trace.span("plans", "loadEvent") { EventStoreOps.loadEvent(ev, lit(id), lit(rev), lit(pos)) }
          Trace.span("exec", "collect") { pt.collect() }
        } { g =>
          val got = g.asInstanceOf[Array[Row]]
          if (got.length == 1 && bytesEq(got(0).getAs[Array[Byte]]("data"), e.data) && got(0).getAs[Long]("ts") == ts) None
          else Some(s"point ($rev,$pos): ${got.length} rows")
        }
      } else {
        val et = Gen.Types(rng.below(Gen.Types.size))
        val day = rng.below(Spec.days)
        val after = Gen.Epoch + day * Gen.DayTicks
        ctx.op("range") {
          val idx = Trace.span("sources", "readEvents") { Storage.readEvents(spark, p.index) }
          val rr = Trace.span("plans", "readRange") { IndexOps.readRange(idx, et, after, after + Gen.DayTicks - 1) }
          Trace.span("exec", "collect") { rr.select("aid", "rev", "pos", "ts").collect() }
        } { g =>
          val got = g.asInstanceOf[Array[Row]]
          val d = got.map(r => rowDigest(r.getAs[Array[Byte]](0), r.getInt(1), r.getInt(2), r.getLong(3))).sum
          if (got.length == rangeCount((et, day)) && d == rangeDigest((et, day))) None
          else Some(s"range $et day $day: ${got.length} rows, want ${rangeCount((et, day))}")
        }
      }
    }

    // the warm-up runs the first eight ops of the mix, which cover every op kind
    val (a, b) = ctx.measure(warmup = 8, minOps = 5)(step)
    ctx.out("ops") = (a ++ b).map(o => Map("kind" -> o.kind, "ms" -> o.ms, "phase" -> (if (b.contains(o)) "b" else "a")))
    ctx.out("window_s") = ctx.seconds
    if (ctx.traced) {
      val tableFiles: String => Long = {
        case "range" => indexFiles
        case _ => eventFiles
      }
      ctx.out("layers") = Layers.summarize(b, tableFiles) ++ Map(
        "sources.read_aggregate_ms" -> Stats.median(Trace.spans.toSeq.filter(_.name == "readAggregate")
          .map(s => (s.endNs - s.startNs) / 1e6)),
        "sources.append_events_ms" -> ctx.out("append_events_ms").asInstanceOf[Double],
        "sources.append_index_ms" -> ctx.out("append_index_ms").asInstanceOf[Double])
      ctx.out("layers_by_kind") = b.groupBy(_.kind).map { case (k, os) => k -> Layers.summarize(os, tableFiles) }
    }
  }

  def rowDigest(id: Array[Byte], rev: Int, pos: Int, ts: Long): Long =
    Gen.low32(Gen.hLong(ts, Gen.hInt(pos, Gen.hInt(rev, Gen.hBytes(id, 42L)))))
}
