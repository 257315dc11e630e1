package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.operators.EventStoreOps
import graft.sources.{Storage, Tables}
import graft.streaming.StreamingOps

/** `Storage.readAggregate` reads only its bucket directory: the same rows,
  * order and schema as a filter over the whole table, without the
  * whole-table listing, schema-inference and range-sampling jobs. */
class AggregateLoadSpec extends SparkSpec {
  import spark.implicits._

  /** Plan traversal that also walks adaptive query stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  /** Runs `body` and returns its result with the descriptions of the Spark
    * jobs it ran (only this thread's, through a job tag). */
  private def withJobs[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = s"aggregate-load-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties.getProperty("spark.job.tags")).exists(_.split(",").contains(tag)))
          jobs.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val r = body
      TestBus.drain(sc)
      (r, jobs.asScala.toSeq)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  private def listingJobs(jobs: Seq[String]) = jobs.filter(_.startsWith("Listing leaf files"))

  /** More bucket directories than Spark lists on the driver: a read of the
    * whole root would launch a leaf-listing job. */
  private def assertListedInParallel(path: String): Unit = {
    val dirs = new java.io.File(path).list().count(_.startsWith("bucket="))
    assert(dirs > spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
  }

  /** Collected rows as comparable values (binary columns as strings). */
  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => new String(b, "UTF-8")
      case v => v
    })

  private def events(ids: Seq[String], revs: Range): DataFrame =
    (for (a <- ids; r <- revs; p <- 0 to 1)
      yield (a.getBytes, r, p, 1000L * r + p, s"$a-$r-$p".getBytes))
      .toDF("id", "rev", "pos", "ts", "data")

  private def wholeTable(path: String, id: String): DataFrame =
    Storage.readEvents(spark, path).filter(col("id") === lit(id.getBytes))
      .orderBy(col("rev"), col("pos"))

  test("multi-file buckets: same rows, order and schema as the filtered whole-table read") {
    val dir = tmpDir()
    val path = s"$dir/events"
    val ids = (1 to 12).map(a => s"agg-$a")
    Seq(1 to 2, 3 to 4, 5 to 6).foreach(r => Storage.appendEvents(events(ids, r), path, nBuckets = 4))
    events(ids, 7 to 8).write.parquet(s"$dir/in")
    val q = StreamingOps.ingestTo(
      spark.readStream.schema(events(ids, 1 to 1).schema).parquet(s"$dir/in"),
      path, s"$dir/ckpt", nBuckets = 4).start()
    try q.processAllAvailable() finally q.stop()
    // every bucket directory holds one file per append: the scan has several splits
    val files = new java.io.File(path).listFiles().filter(_.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty && files.forall(_ >= 4))
    ids.foreach { id =>
      val got = Storage.readAggregate(spark, path, id.getBytes, nBuckets = 4)
      val want = wholeTable(path, id)
      assert(got.schema == want.schema, id)
      val rows = rowsOf(got)
      assert(rows.size == 16 && rows == rowsOf(want), id)
    }
  }

  test("string payloads of the sf0.001 event log: the schema equals the whole-table read's") {
    val path = s"${tmpDir()}/events"
    val log = Tables.eventLog(spark, "/root/testdata/sf0.001")
      .withColumn("id", col("id").cast("string").cast("binary"))
      .drop("et")
    Storage.appendEvents(log, path, nBuckets = 8)
    val got = Storage.readAggregate(spark, path, "7".getBytes, nBuckets = 8)
    assert(got.schema == spark.read.parquet(path).schema)
    assert(got.schema("data").dataType == StringType)
    val rows = rowsOf(got)
    assert(rows.nonEmpty && rows == rowsOf(wholeTable(path, "7")))
  }

  test("event file footers keep min/max on id, rev, pos and ts but not on data; " +
      "a load still skips row groups on id") {
    val path = s"${tmpDir()}/events"
    val ids = (1 to 40).map(a => f"agg-$a%02d")
    spark.conf.set("parquet.block.row.count.limit", "50")
    try Storage.appendEvents(events(ids, 1 to 10), path, nBuckets = 1)
    finally spark.conf.unset("parquet.block.row.count.limit")
    val files = new java.io.File(s"$path/bucket=0").listFiles().filter(_.getName.endsWith(".parquet"))
    val conf = spark.sparkContext.hadoopConfiguration
    val blocks = files.toSeq.flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
      try r.getFooter.getBlocks.asScala.toSeq finally r.close()
    }
    assert(blocks.size >= 16, blocks.size)
    blocks.flatMap(_.getColumns.asScala).foreach { c =>
      val name = c.getPath.toDotString
      assert(c.getStatistics.hasNonNullValue == (name != "data"), name)
    }
    val df = Storage.readAggregate(spark, path, "agg-17".getBytes, nBuckets = 1)
    assert(df.collect().map(_.getAs[Int]("rev")).toSeq == (1 to 10).flatMap(r => Seq(r, r)))
    val scanned = Plans.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
    // the aggregate's 20 rows span at most two 50-row groups of the 800
    assert(scanned > 0 && scanned <= 100, scanned)
  }

  test("a load and its commit reassembly run in two jobs, with no listing job and no range sample") {
    val path = s"${tmpDir()}/events"
    val ids = (1 to 300).map(a => s"agg-$a")
    Seq(1 to 3, 4 to 6).foreach(r => Storage.appendEvents(events(ids, r), path))
    assertListedInParallel(path)
    val ((commits, plan), jobs) = withJobs {
      val re = EventStoreOps.reassembleCommits(
        Storage.readAggregate(spark, path, "agg-9".getBytes))
      (re.collect(), re.queryExecution.executedPlan)
    }
    assert(commits.map(_.getAs[Int]("rev")).toSeq == (1 to 6))
    assert(commits.forall(_.getAs[Seq[_]]("events").size == 2))
    assert(jobs.size <= 2, jobs)
    assert(listingJobs(jobs).isEmpty, jobs)
    val rangeExchanges = Plans.collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(rangeExchanges.isEmpty, plan)
  }

  test("a miss (bucket never written, or emptied by deleteAndRewrite) is empty with the hit's schema") {
    val path = s"${tmpDir()}/events"
    val n = 64
    // `alone` is the only aggregate of its bucket; some buckets stay unwritten
    val alone = "agg-1"
    val others = (2 to 80).map(a => s"agg-$a")
      .filter(a => Storage.bucketOf(a.getBytes, n) != Storage.bucketOf(alone.getBytes, n))
    Storage.appendEvents(events(alone +: others, 1 to 3), path, nBuckets = n)
    assertListedInParallel(path)
    def bucketDir(id: String) = new java.io.File(s"$path/bucket=${Storage.bucketOf(id.getBytes, n)}")
    val hit = Storage.readAggregate(spark, path, alone.getBytes, nBuckets = n)
    assert(hit.count() == 6)
    def assertMiss(id: String): Unit = {
      assert(!bucketDir(id).exists, id)
      val ((schema, rows), jobs) = withJobs {
        val df = Storage.readAggregate(spark, path, id.getBytes, nBuckets = n)
        (df.schema, df.collect())
      }
      assert(rows.isEmpty, id)
      assert(schema == hit.schema, id)
      assert(listingJobs(jobs).isEmpty, jobs)
    }
    assertMiss(Iterator.from(0).map(i => s"never-$i").find(i => !bucketDir(i).exists).get)
    Storage.deleteAndRewrite(spark, path,
      events(Seq(alone), 1 to 3).select("id", "rev", "pos"), nBuckets = n)
    assertMiss(alone)
  }

  test("an empty or absent root fails as a whole-table read of it does") {
    val root = new java.io.File(tmpDir(), "events")
    Seq(false, true).foreach { made =>
      if (made) assert(root.mkdirs())
      val want = intercept[AnalysisException](spark.read.parquet(root.toString))
      val got = intercept[AnalysisException](
        Storage.readAggregate(spark, root.toString, "x".getBytes))
      assert(got.getCondition == want.getCondition && got.getMessage == want.getMessage)
    }
  }

  test("a bucket count below 1 is refused before anything is written or started") {
    val dir = tmpDir()
    val in = tmpDir()
    events(Seq("a"), 1 to 1).write.mode("overwrite").parquet(in)
    val src = spark.readStream.schema(events(Seq("a"), 1 to 1).schema).parquet(in)
    Seq(0, -3).foreach { n =>
      intercept[IllegalArgumentException](Storage.bucketOf("a".getBytes, n))
      intercept[IllegalArgumentException](
        Storage.appendEvents(events(Seq("a"), 1 to 1), s"$dir/events", nBuckets = n))
      intercept[IllegalArgumentException](
        Storage.readAggregate(spark, s"$dir/events", "a".getBytes, nBuckets = n))
      intercept[IllegalArgumentException](
        StreamingOps.ingestTo(src, s"$dir/events", s"$dir/ckpt", nBuckets = n))
      intercept[IllegalArgumentException](
        StreamingOps.ingestToVersioned(src, s"$dir/versioned", s"$dir/ckpt_v", nBuckets = n))
    }
    assert(new java.io.File(dir).list().isEmpty)
  }
}
