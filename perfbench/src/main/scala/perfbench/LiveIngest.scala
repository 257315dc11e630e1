package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Storage
import graft.streaming.StreamingOps

/** `live_ingest`: the live write path. Set-up stages seeded landing files;
  * the release process in `run.py` then moves them into the landing
  * directory on a fixed schedule (open loop, one file per `TickMs`), while
  * three queries run on that directory: `ingestTo` (store), `indexTo`
  * (index) and `liveCounters` in update mode. After the steady phase has
  * drained, `Bursts` bursts each release a fixed backlog at once (after
  * `WarmupBursts` unmeasured ones at the end of the warm-up).
  * Release-to-commit latency is derived afterwards by `run.py` from each
  * checkpoint: `sources/0` maps files to batches and the date of
  * `commits/<id>` is the commit time. */
object LiveIngest {

  /** Steady-phase file: ~`SteadyAggs` aggregates of ~4.4 events each
    * (~750 events), one file per tick, so the rate is ~190 events/s. The
    * tick is more than twice a micro-batch, so each file lands on idle
    * queries and its latency is the cost of one batch, also while the host
    * runs the JVM at half speed. At shorter ticks the per-file cost made
    * batches longer, longer batches took more files, and the latency
    * wandered from run to run with how the three queries' batches happened
    * to interleave; at 2.5 s a slow spell of the host made the ingest query
    * fall behind and the latency double. */
  val SteadyAggs = 170
  val TickMs = 4000
  /** Warm-up files, released one per `WarmupTickMs` and drained before the
    * steady phase, so it starts with warm queries at a batch boundary. */
  val WarmupFiles = 6
  val WarmupTickMs = 500
  /** Each burst: `BurstFiles` files of `BurstAggs` aggregates (~22k events),
    * staged in one directory that the release process renames into the
    * landing directory, so every query sees the whole burst in one listing. */
  val Bursts = 3
  /** Bursts released at the end of the warm-up, so the measured ones run on
    * a JVM that has already compiled the large-batch path. */
  val WarmupBursts = 1
  val BurstFiles = 10
  val BurstAggs = 500
  val Setups = 3
  val Spec: StoreSpec = StoreSpec(aggregates = 0, meanRevs = 2, days = 1, payloadMin = 40, payloadMax = 160)

  val LandingSchema: StructType = StructType(Seq(
    StructField("id", BinaryType, nullable = false),
    StructField("rev", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("data", BinaryType, nullable = true),
    StructField("et", StringType, nullable = false)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    val steadyFiles = WarmupFiles + math.round(ctx.seconds * 1000 / TickMs).toInt
    val nFiles = steadyFiles + (WarmupBursts + Bursts) * BurstFiles
    // file f holds aggregates [firstAgg(f), firstAgg(f + 1))
    val firstAgg = (0 to nFiles).map(f => if (f <= steadyFiles) f * SteadyAggs
      else steadyFiles * SteadyAggs + (f - steadyFiles) * BurstAggs)
    def fileRows(f: Int): Seq[Row] = (firstAgg(f) until firstAgg(f + 1)).flatMap { i =>
      val id = Gen.aggregateId(seed, i)
      Gen.aggregate(seed, Spec, i).flatMap(c => c.rows.map { case (pos, e) => Row(id, c.rev, pos, c.ts, e.data, e.et) })
    }

    // expected results and per-file sizes, from the generator alone
    val fileEvents = Array.fill(nFiles)(0L)
    var storeDigest = 0L
    var indexDigest = 0L
    var userBytes = 0L
    val typeCounts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (f <- 0 until nFiles; r <- fileRows(f)) {
      val (id, rev, pos, ts, data, et) = (r.getAs[Array[Byte]](0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getAs[Array[Byte]](4), r.getString(5))
      fileEvents(f) += 1
      typeCounts(et) += 1
      userBytes += id.length + data.length
      storeDigest += Gen.low32(Gen.hBytes(data, Gen.hLong(ts, Gen.hInt(pos, Gen.hInt(rev, Gen.hBytes(id, 42L))))))
      indexDigest += Gen.low32(Gen.hLong(ts, Gen.hInt(pos, Gen.hInt(rev, Gen.hBytes(id, Gen.hString(et, 42L))))))
    }

    val live = s"${ctx.work}/live"
    val landing = s"$live/landing"
    val storePath = Storage.tablePath(live, Store.Tenant, Store.Keyspace, "events")
    val indexPath = Storage.tablePath(live, Store.Tenant, Store.Keyspace, "index_by_eventtype")
    val ckpt = Map("ingest" -> s"$live/ckpt/ingest", "index" -> s"$live/ckpt/index", "counters" -> s"$live/ckpt/counters")

    // set-up: stage the landing files (repeated, median reported), then start the queries
    val stageTimes = (1 to Setups).map { k =>
      val t0 = System.nanoTime()
      val dir = s"$live/staging$k"
      Store.deleteTree(dir)
      val rdd = spark.sparkContext.parallelize(0 until nFiles, nFiles).mapPartitionsWithIndex { (f, _) => fileRows(f).iterator }
      spark.createDataFrame(rdd, LandingSchema).write.parquet(dir)
      if (k > 1) Store.deleteTree(s"$live/staging${k - 1}")
      (System.nanoTime() - t0) / 1e9
    }
    val staging = s"$live/staging$Setups"
    val staged: Map[Int, java.nio.file.Path] = {
      val ds = Files.newDirectoryStream(Paths.get(staging), "part-*.parquet")
      try {
        val it = ds.iterator()
        val b = Map.newBuilder[Int, java.nio.file.Path]
        while (it.hasNext) { val p = it.next(); b += p.getFileName.toString.drop(5).takeWhile(_ != '-').toInt -> p }
        b.result()
      } finally ds.close()
    }
    require(staged.size == nFiles, s"staged ${staged.size} files, want $nFiles")
    val burstDirs = (0 until WarmupBursts + Bursts).map { k =>
      val dir = Paths.get(staging, s"burst$k")
      Files.createDirectories(dir)
      (0 until BurstFiles).foreach { j =>
        val f = steadyFiles + k * BurstFiles + j
        Files.move(staged(f), dir.resolve(f"f$f%05d.parquet"))
      }
      dir.toString
    }
    Files.createDirectories(Paths.get(landing))

    val t0 = System.nanoTime()
    val counters = new ConcurrentHashMap[String, java.lang.Long]()
    // recursive, so a burst's directory renamed into the landing directory is read
    val src = spark.readStream.schema(LandingSchema).option("recursiveFileLookup", "true").parquet(landing)
    val queries = Seq(
      StreamingOps.ingestTo(src, storePath, ckpt("ingest")).queryName("ingest").start(),
      StreamingOps.indexTo(src, indexPath, ckpt("index")).queryName("index").start(),
      StreamingOps.liveCounters(src).writeStream.outputMode("update").queryName("counters")
        .option("checkpointLocation", ckpt("counters"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => counters.put(r.getString(0), r.getLong(1)))
        }.start())
    queries.foreach(_.processAllAvailable())
    val startS = (System.nanoTime() - t0) / 1e9
    ctx.out("setups_s") = stageTimes
    ctx.out("setup_s") = ctx.sessionS + Stats.median(stageTimes) + startS
    ctx.out("queries_start_s") = startS

    // The releases come from a separate process (run.py), so the schedule
    // does not stall when this JVM pauses. Both sides step through the
    // phases with marker files under `control`.
    val control = Paths.get(live, "control")
    Files.createDirectories(control)
    def signal(name: String): Unit = Files.write(control.resolve(name), Array.emptyByteArray): Unit
    def await(name: String): Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!Files.exists(control.resolve(name))) {
        require(System.nanoTime() < deadline, s"the release process never sent '$name'")
        Thread.sleep(2)
      }
    }
    def drainAll(): Unit = queries.foreach(_.processAllAvailable())
    val plan = Map("landing" -> landing, "traced" -> ctx.traced, "tick_ms" -> TickMs, "warmup_tick_ms" -> WarmupTickMs,
      "warmup_files" -> WarmupFiles, "steady_files" -> steadyFiles, "bursts" -> Bursts, "warmup_bursts" -> WarmupBursts,
      "burst_files" -> BurstFiles,
      "files" -> staged.collect { case (f, path) if f < steadyFiles => f.toString -> path.toString },
      "burst_dirs" -> burstDirs, "events" -> fileEvents.toSeq)
    Files.write(control.resolve("plan.tmp"), Json(plan).getBytes("UTF-8"))
    Files.move(control.resolve("plan.tmp"), control.resolve("plan.json"), StandardCopyOption.ATOMIC_MOVE)
    await("warmup")
    drainAll()
    signal("drained-warmup")
    // the traced phase: from the release process's half-way mark to the steady drain
    var tracedFromMs = Long.MaxValue
    if (ctx.traced) { await("phase-b"); Trace.on = true; tracedFromMs = System.currentTimeMillis() }
    await("steady")
    drainAll()
    val steadyEndMs = System.currentTimeMillis()
    signal("drained-steady")
    (0 until Bursts).foreach { k =>
      await(s"burst$k")
      drainAll()
      signal(s"drained-burst$k")
    }
    Trace.on = false
    queries.foreach(_.stop())
    if (ctx.traced) Trace.drain(spark)

    // checks after the drain: store and index rows equal the released events,
    // and each type's counter equals the events released for that type
    val total = fileEvents.sum
    def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL)))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    ctx.verify("live store rows") {
      val got = digest(Storage.readEvents(spark, storePath), Seq("id", "rev", "pos", "ts", "data"))
      if (got == ((total, storeDigest))) None else Some(s"got $got, want ${(total, storeDigest)}")
    }
    ctx.verify("live index rows") {
      val got = digest(Storage.readEvents(spark, indexPath), Seq("et", "aid", "rev", "pos", "ts"))
      if (got == ((total, indexDigest))) None else Some(s"got $got, want ${(total, indexDigest)}")
    }
    ctx.verify("live counters") {
      val got = counters.entrySet().toArray(Array.empty[java.util.Map.Entry[String, java.lang.Long]])
        .map(e => e.getKey -> e.getValue.longValue).toMap
      if (got == typeCounts.toMap) None else Some(s"got $got, want ${typeCounts.toMap}")
    }

    val (sb, sf) = Store.du(storePath)
    val (ib, inf) = Store.du(indexPath)
    ctx.out("store") = Map("events" -> total, "user_bytes" -> userBytes, "event_bytes" -> sb, "event_files" -> sf,
      "index_bytes" -> ib, "index_files" -> inf, "bytes_per_user_byte" -> (sb + ib).toDouble / userBytes)
    ctx.out("live") = Map(
      "tick_ms" -> TickMs, "warmup_files" -> WarmupFiles, "steady_files" -> steadyFiles, "bursts" -> Bursts,
      "rate_eps" -> fileEvents.slice(WarmupFiles, steadyFiles).sum * 1000.0 / ((steadyFiles - WarmupFiles) * TickMs),
      "checkpoints" -> ckpt)
    if (ctx.traced) {
      val bs = Trace.synchronized(Trace.batches.toSeq)
        .filter(b => b.inputRows > 0 && b.timestampMs >= tracedFromMs && b.timestampMs <= steadyEndMs)
      val byQuery = bs.groupBy(_.query)
      val steadyOps = bs.map(x =>
        Op(x.batchId, x.query, x.timestampMs, x.timestampMs + x.durations.getOrElse("triggerExecution", 0L), 0, 0))
      val layers = scala.collection.mutable.Map[String, Double]() ++= Layers.summarize(steadyOps, _ => 0L)
      for ((q, xs) <- byQuery) {
        def p50(k: String) = Stats.median(xs.map(_.durations.getOrElse(k, 0L).toDouble))
        layers(s"streaming.$q.batch_ms_p50") = p50("triggerExecution")
        layers(s"streaming.$q.add_batch_ms_p50") = p50("addBatch")
        layers(s"streaming.$q.plan_ms_p50") = p50("queryPlanning")
        layers(s"streaming.$q.offsets_ms_p50") = p50("latestOffset")
        layers(s"streaming.$q.wal_ms_p50") = p50("walCommit")
        layers(s"streaming.$q.rows_per_batch") = Stats.median(xs.map(_.inputRows.toDouble))
        layers(s"streaming.$q.batches") = xs.size.toDouble
      }
      byQuery.get("counters").foreach { xs =>
        layers("streaming.counters.state_rows") = xs.map(_.stateRows).max.toDouble
        layers("streaming.counters.state_bytes") = xs.map(_.stateBytes).max.toDouble
      }
      // every file the run wrote over every batch that wrote it, from the checkpoints' commit logs
      def batchesOf(q: String) =
        Option(new java.io.File(s"${ckpt(q)}/commits").list()).map(_.count(_.forall(_.isDigit))).getOrElse(0)
      layers("sources.files_written_per_batch") = (sf + inf).toDouble / math.max(1, batchesOf("ingest") + batchesOf("index"))
      ctx.out("layers") = layers.toMap
    }
    Store.deleteTree(staging)
  }
}
