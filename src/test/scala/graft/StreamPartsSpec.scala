package graft

import org.apache.spark.sql.functions._

/** The volume-derived drain sizing (`SparkEntry.streamParts`, applied by
  * `SparkEntry.drain` to a `SparkEntry.stream` source) on the input shape
  * no bench scale factor produces: a Spark-written MULTI-FILE
  * `events.parquet` directory, with the trigger and per-partition sizes
  * shrunk so the volume term (not the floor of 8) decides and the drain
  * spans several micro-batches. */
class StreamPartsSpec extends SparkSpec {

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a multi-file events.parquet directory sizes the drain by its leaf bytes") {
    val dir = tmpDir()
    // ~24 MiB of incompressible doubles in 10 part files
    spark.range(0L, 1000000L, 1L, 10)
      .select((col("id") % 7).cast("string").as("event_type"),
        rand(1).as("a"), rand(2).as("b"), rand(3).as("c"))
      .write.parquet(s"$dir/events.parquet")
    def drain(name: String) = {
      val src = SparkEntry.stream(spark, dir, "events")
      val q = SparkEntry.drain(spark, dir, "events")(
        graft.streaming.StreamingOps.liveCounters(src, etCol = "event_type")
          .writeStream.format("memory").queryName(name).outputMode("complete"))
      val rows = spark.table(name).orderBy(col("msgid")).collect().toSeq
      (rows, q.recentProgress.toSeq.filter(_.numInputRows > 0))
    }
    withConf("spark.sql.shuffle.partitions" -> "16") {
      val (dflt, dfltBatches) = drain("stream_parts_default")
      // the default trigger cap drains the whole directory in one batch
      assert(dfltBatches.size == 1)
      assert(dflt.map(_.getLong(1)).sum == 1000000L)
      withConf("spark.graft.stream.partmb" -> "1", "spark.graft.stream.triggermb" -> "10") {
        // min(leaf bytes, 10 MiB trigger) / 1 MiB per partition = 10
        val n = SparkEntry.streamParts(spark, dir, "events.parquet")
        assert(n == 10, s"derived $n partitions")
        val (shrunk, batches) = drain("stream_parts_shrunk")
        assert(batches.size >= 2, s"${batches.size} non-empty micro-batches")
        assert(batches.forall(_.stateOperators.head.numShufflePartitions == n))
        assert(shrunk == dflt)
      }
    }
  }
}
