package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the seed, the measurement
  * window, the op and check records, and the raw results handed back to
  * `run.py` as JSON. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val traced: Boolean,
    val work: String, val cpus: Int, val sessionS: Double) {
  val out: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val ops: ArrayBuffer[Op] = ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  val failures: ArrayBuffer[String] = ArrayBuffer.empty
  private var nextOp = 0L

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += msg
    System.err.println(s"perfbench: FAILED $msg")
  }

  /** One checked unit of work: it fails if it throws or if `check` returns
    * an error message. Returns the timed record, or None when it threw. */
  def op(kind: String)(body: => Any)(check: Any => Option[String]): Option[Op] = {
    attempted += 1
    nextOp += 1
    val id = nextOp
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(Trace.withOp(id)(Trace.span("op", kind)(body))) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    val rec = Op(id, kind, ms0, System.currentTimeMillis(), t0, t1)
    res match {
      case Left(e) => fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}"); None
      case Right(v) =>
        check(v).foreach(m => fail(s"$kind: $m"))
        ops += rec
        Some(rec)
    }
  }

  /** A check made outside the timed window. */
  def verify(what: String)(err: => Option[String]): Unit = {
    attempted += 1
    try err.foreach(m => fail(s"$what: $m"))
    catch { case e: Throwable => fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  /** Run the measurement: an untimed warm-up, then `step` until the
    * window closes. A traced run splits the window into an untraced half
    * (phase "a") and a traced half (phase "b"), so `trace_overhead` compares
    * the two inside one process. Returns the ops of each phase. */
  def measure(warmup: Int, minOps: Int)(step: Int => Unit): (Seq[Op], Seq[Op]) = {
    (0 until warmup).foreach(step)
    ops.clear()
    def window(sec: Double): Seq[Op] = {
      val from = ops.size
      val end = System.nanoTime() + (sec * 1e9).toLong
      var i = 0
      while (System.nanoTime() < end || ops.size - from < minOps) { step(i); i += 1 }
      ops.drop(from).toSeq
    }
    if (!traced) (window(seconds), Nil)
    else {
      val a = window(seconds / 2)
      Trace.on = true
      val b = window(seconds / 2)
      // drained while still on, so the listener keeps the last op's task and job ends
      Trace.drain(spark)
      Trace.on = false
      (a, b)
    }
  }
}

object Main {

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** The session every workload runs in; scratch files stay under `work`. */
  /** Heap still in use after a full collection: the least of three tries,
    * so a background thread's allocation in flight does not count. */
  def heapLiveMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.prepare(spark)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val outPath = arg("out")
    val cpus = arg("cpus").toInt
    if (workload == "selfcheck") { SelfCheck.run(arg("seed").toLong, arg("work"), outPath); return }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, arg("work"))
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val traced = arg("trace") == "1"
    if (traced) Trace.install(spark)
    val ctx = new Ctx(spark, arg("seed").toLong, arg("seconds").toDouble, traced, arg("work"), cpus, sessionS)
    try {
      workload match {
        case "point_load" => PointLoad.run(ctx)
        case "replay_rebuild" => Replay.run(ctx)
        case "live_ingest" => LiveIngest.run(ctx)
        case other => sys.error(s"unknown workload '$other'")
      }
    } catch {
      case e: Throwable =>
        ctx.attempted += 1
        ctx.fail(s"$workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    }
    ctx.out("workload") = workload
    ctx.out("seed") = ctx.seed
    ctx.out("cpus") = cpus
    ctx.out("session_s") = sessionS
    ctx.out("peak_rss_mb") = peakRssMb()
    ctx.out("heap_live_mb") = heapLiveMb()
    ctx.out("attempted") = ctx.attempted
    ctx.out("failed") = ctx.failed
    ctx.out("failures") = ctx.failures.toSeq
    if (traced) ctx.out("spans") = Trace.synchronized(Trace.spans.toSeq)
    val w = new java.io.PrintWriter(outPath, "UTF-8")
    try w.write(Json(ctx.out)) finally w.close()
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }
}
