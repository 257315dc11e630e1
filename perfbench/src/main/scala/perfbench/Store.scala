package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.IndexOps
import graft.sources.Storage

/** Paths of one seeded event store written through the engine's own append
  * path, and the generator that filled it. */
final case class StorePaths(root: String) {
  val events: String = Storage.tablePath(root, Store.Tenant, Store.Keyspace, "events")
  val index: String = Storage.tablePath(root, Store.Tenant, Store.Keyspace, "index_by_eventtype")
  val counters: String = Storage.tablePath(root, Store.Tenant, Store.Keyspace, "message_counter")
}

final case class SetupTimes(totalS: Double, appendEventsMs: Double, appendIndexMs: Double)

object Store {
  val Tenant = "bench"
  val Keyspace = "store"

  val CommitSchema: StructType = StructType(Seq(
    StructField("id", BinaryType, nullable = false),
    StructField("rev", IntegerType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("events", ArrayType(BinaryType, containsNull = false), nullable = false),
    StructField("publicEvents", ArrayType(BinaryType, containsNull = false), nullable = false)))

  /** The event type carried in front of a payload (see [[GEvent]]). */
  val etOfData = substring_index(decode(col("data"), "UTF-8"), "|", 1)

  /** One row per commit of aggregates [0, n), generated on the executors. */
  def commits(spark: SparkSession, seed: Long, spec: StoreSpec, slices: Int): DataFrame = {
    val rdd = spark.sparkContext.parallelize(0 until spec.aggregates, slices).flatMap { i =>
      val id = Gen.aggregateId(seed, i)
      Gen.aggregate(seed, spec, i).map(c =>
        Row(id, c.rev, c.ts, c.events.map(_.data), c.publicEvents.map(_.data)))
    }
    spark.createDataFrame(rdd, CommitSchema)
  }

  /** Write the seeded store (events, index, counter increments) under
    * `root` through commitToRows -> appendEvents and buildIndex ->
    * appendIndex, the engine's batch write path. */
  def write(spark: SparkSession, root: String, seed: Long, spec: StoreSpec,
      buckets: Int, slices: Int, withCounters: Boolean): SetupTimes = {
    val t0 = System.nanoTime()
    val p = StorePaths(root)
    Storage.createStorage(root, Tenant, Keyspace)(spark)
    val rows = Storage.commitToRows(commits(spark, seed, spec, slices))
    val t1 = System.nanoTime()
    Trace.span("sources", "appendEvents") { Storage.appendEvents(rows, p.events, buckets) }
    val t2 = System.nanoTime()
    Trace.span("sources", "appendIndex") {
      Storage.appendIndex(IndexOps.buildIndex(rows.withColumn("et", etOfData)), p.index)
    }
    val t3 = System.nanoTime()
    if (withCounters)
      rows.select(etOfData.as("msgid"), lit(1L).as("delta"))
        .write.mode("append").parquet(p.counters)
    SetupTimes((System.nanoTime() - t0) / 1e9, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
  }

  /** Bytes and data files under a directory tree (parquet parts only). */
  def du(path: String): (Long, Long) = {
    val root = new java.io.File(path)
    if (!root.exists()) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(root.toPath).iterator()
      var bytes = 0L
      var n = 0L
      while (files.hasNext) {
        val f = files.next().toFile
        if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")) {
          bytes += f.length(); n += 1
        }
      }
      (bytes, n)
    }
  }

  def deleteTree(path: String): Unit = {
    val root = new java.io.File(path)
    if (root.exists()) {
      val all = java.nio.file.Files.walk(root.toPath).iterator()
      val paths = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      while (all.hasNext) paths += all.next()
      paths.reverseIterator.foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
    }
  }
}
