package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.operators.{EventStoreOps, IndexOps}
import graft.sources.Storage

/** `Storage.readEvents` is `spark.read.format(f).load(path)` in schema and
  * rows, but lists only the partition directories a scan's filters keep:
  * building the frame runs no job, and a page, point or index-range read
  * runs one job and no leaf-listing job. */
class EventsReadSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` and returns its result with the descriptions of the Spark
    * jobs it ran (only this thread's, through a job tag). */
  private def withJobs[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = s"events-read-${System.nanoTime}"
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

  private def threshold =
    spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt

  /** Collected rows as sorted comparable strings (binary columns decoded). */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => new String(b, "UTF-8")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def assertSameAsSparkRead(path: String, format: String = "parquet"): DataFrame = {
    val got = Storage.readEvents(spark, path, format)
    val want = spark.read.format(format).load(path)
    assert(got.schema == want.schema, path)
    assert(rowsOf(got) == rowsOf(want), path)
    got
  }

  private def events(ids: Seq[String], revs: Range): DataFrame =
    (for (a <- ids; r <- revs; p <- 0 to 1)
      yield (a.getBytes, r, p, 1000L * r + p, s"$a-$r-$p".getBytes))
      .toDF("id", "rev", "pos", "ts", "data")

  /** FileTime of midnight UTC, `d` days after 2024-01-01. */
  private def dayStart(d: Int): Long =
    java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 10000000L + TimeFns.FileTimeEpochTicks

  /** Event types whose directory names Spark escapes (`/`, `%`, `=`). */
  private val types = Seq("a/b", "100%", "k=v", "plain")

  /** An (et, pid) index of `ets` x `days` partitions, two aggregates each. */
  private def writeIndex(path: String, days: Int, ets: Seq[String] = types): Unit =
    Storage.appendIndex(IndexOps.buildIndex(
      (for (et <- ets; d <- 0 until days; k <- 0 to 1)
        yield (et, s"agg-$k".getBytes, 1, k, dayStart(d) + 1000L * k))
        .toDF("et", "id", "rev", "pos", "ts")), path)

  test("schema and rows equal spark.read on bucketed events, an escaped (et, pid) index, " +
      "an unpartitioned table and ORC") {
    val dir = tmpDir()
    val ids = (1 to 12).map(a => s"agg-$a")
    Seq(1 to 2, 3 to 4).foreach(r => Storage.appendEvents(events(ids, r), s"$dir/events", nBuckets = 4))
    assertSameAsSparkRead(s"$dir/events")

    writeIndex(s"$dir/index", days = 3)
    val index = assertSameAsSparkRead(s"$dir/index")
    val want = spark.read.parquet(s"$dir/index")
    types.foreach { et =>
      val cond = col("et") === et && col("pid") === IndexOps.pidOfFileTime(dayStart(1))
      assert(rowsOf(index.filter(cond)).size == 2, et)
      assert(rowsOf(index.filter(cond)) == rowsOf(want.filter(cond)), et)
    }

    Seq(("m1", 1L), ("m2", 2L)).toDF("msgid", "delta").write.parquet(s"$dir/counter")
    Seq(("m1", 3L)).toDF("msgid", "delta").write.mode("append").parquet(s"$dir/counter")
    assert(assertSameAsSparkRead(s"$dir/counter").count() == 3)

    Storage.appendEvents(events(ids, 1 to 2), s"$dir/orc", nBuckets = 4, format = "orc")
    assertSameAsSparkRead(s"$dir/orc", format = "orc")
  }

  test("page, point and index-range reads run at most one job and no listing job") {
    val dir = tmpDir()
    val ids = (1 to 300).map(a => s"agg-$a")
    Storage.appendEvents(events(ids, 1 to 3), s"$dir/events")
    assert(new java.io.File(s"$dir/events").list().count(_.startsWith("bucket=")) > threshold)
    writeIndex(s"$dir/index", days = 10)
    assert(types.size * 10 > threshold)

    val id = "agg-9".getBytes
    def bucketRead = Storage.readEvents(spark, s"$dir/events")
      .filter(col("bucket") === Storage.bucketOf(id))
    val (page, pageJobs) = withJobs(
      EventStoreOps.loadWithPaging(bucketRead, lit(id), Some((1, 1)), 3).collect())
    assert(page.map(r => (r.getAs[Int]("rev"), r.getAs[Int]("pos"))).toSeq == Seq((2, 0), (2, 1), (3, 0)))
    val (point, pointJobs) = withJobs(
      EventStoreOps.loadEvent(bucketRead, lit(id), lit(2), lit(1)).collect())
    assert(point.map(r => new String(r.getAs[Array[Byte]]("data"), "UTF-8")).toSeq == Seq("agg-9-2-1"))
    val (range, rangeJobs) = withJobs(IndexOps.readRange(
      Storage.readEvents(spark, s"$dir/index"), "a/b", dayStart(3), dayStart(4) - 1).collect())
    assert(range.length == 2)
    Seq(pageJobs, pointJobs, rangeJobs).foreach { jobs =>
      assert(jobs.size <= 1, jobs)
      assert(listingJobs(jobs).isEmpty, jobs)
    }
  }

  test("an empty or absent root fails as spark.read of it does") {
    Seq("parquet", "orc").foreach { format =>
      val root = new java.io.File(tmpDir(), "events")
      Seq(false, true).foreach { made =>
        if (made) assert(root.mkdirs())
        val want = intercept[AnalysisException](spark.read.format(format).load(root.toString))
        val got = intercept[AnalysisException](Storage.readEvents(spark, root.toString, format))
        assert(got.getCondition == want.getCondition && got.getMessage == want.getMessage, (format, made))
      }
    }
  }

  test("an index with more event types than the listing threshold, one of them emptied " +
      "by a delete, reads as spark.read does") {
    val path = s"${tmpDir()}/index"
    val ets = (0 until threshold + 8).map(i => f"t$i%02d")
    writeIndex(path, days = 2, ets)
    // empty the event type whose directory the walk lists first: the delete
    // drops its `et=` directory, which is then made again by hand, empty,
    // as a store written by another tool could hold it
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def etDirs = fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("et=")).toSeq
    val gone = etDirs.head.stripPrefix("et=")
    Storage.deleteIndexAndRewrite(spark, path,
      spark.read.parquet(path).filter(col("et") === gone).localCheckpoint(true))
    assert(!etDirs.contains(s"et=$gone") && etDirs.size == ets.size - 1)
    assert(fs.mkdirs(new org.apache.hadoop.fs.Path(root, s"et=$gone")))
    assert(etDirs.head == s"et=$gone" && new java.io.File(s"$path/et=$gone").list().isEmpty)

    assertSameAsSparkRead(path)
    val index = Storage.readEvents(spark, path)
    assert(index.filter(col("et") === gone).isEmpty)
    val (range, jobs) = withJobs(
      IndexOps.readRange(index, ets.last, dayStart(1), dayStart(2) - 1).collect())
    assert(range.length == 2)
    assert(jobs.size <= 1 && listingJobs(jobs).isEmpty, jobs)
  }

  test("snapshot: a frame and the frames derived from it keep the files of their first plan") {
    val path = s"${tmpDir()}/events"
    val ids = (1 to 12).map(a => s"agg-$a")
    Storage.appendEvents(events(ids, 1 to 2), path, nBuckets = 4)
    val id = "agg-1".getBytes
    val b = Storage.bucketOf(id, 4)
    val all = Storage.readEvents(spark, path)
    val one = all.filter(col("bucket") === b)
    val oneRows = rowsOf(one)
    def perBucket(df: DataFrame) =
      df.groupBy("bucket").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // more files in every existing bucket, and a bucket directory of its own
    Storage.appendEvents(events(ids, 3 to 3), path, nBuckets = 4)
    val fresh = Iterator.from(0).map(i => s"new-$i").find(i => Storage.bucketOf(i.getBytes) >= 4).get
    Storage.appendEvents(events(Seq(fresh), 1 to 1), path)
    assert(rowsOf(one) == oneRows)
    assert(rowsOf(one.filter(col("rev") > 0)) == oneRows)
    // a plan that keeps `one`'s bucket and others sees that bucket's files as
    // `one` listed them, and the others' (listed now) with the new files
    val now = perBucket(Storage.readEvents(spark, path).filter(col("bucket") < 4))
    assert(perBucket(all) == now.map { case (k, n) => k -> (if (k == b) oneRows.size.toLong else n) })
    assert(now(b) > oneRows.size)
    val allRows = rowsOf(all)
    assert(rowsOf(all) == allRows)
    assert(Storage.readEvents(spark, path).count() > allRows.size)
  }
}
