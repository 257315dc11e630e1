package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingOps

/** A7's streaming twin: a tombstone stream continuously rewrites ONLY the
  * affected (et, pid) index partitions; untouched partitions keep their
  * exact files, and a partition whose every record is deleted disappears. */
class StreamingIndexDeleteSpec extends SparkSpec {

  test("indexDeleteStream removes streamed tombstones, leaves other partitions' files untouched") {
    import spark.implicits._
    val dir = tmpDir()
    val idx = s"$dir/index"; val land = s"$dir/tombs"; val ckpt = s"$dir/ckpt"

    graft.sources.Storage.appendIndex(
      Seq(
        ("click", 2026001, "a1", 1, 0, 100L),
        ("click", 2026001, "a2", 1, 0, 200L),
        ("click", 2026002, "a1", 2, 0, 300L),
        ("view", 2026001, "a3", 1, 0, 150L)
      ).toDF("et", "pid", "aid", "rev", "pos", "ts"), idx)

    def files(et: String, pid: Int): Set[(String, Long)] = {
      val d = new java.io.File(s"$idx/et=$et/pid=$pid")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val viewBefore = files("view", 2026001)
    assert(viewBefore.nonEmpty)

    // tombstones: one record of a two-record partition, and the ONLY record
    // of click/2026002 (that partition must vanish entirely)
    Seq(
      ("click", 2026001, 200L, "a2", 1, 0),
      ("click", 2026002, 300L, "a1", 2, 0)
    ).toDF("et", "pid", "ts", "aid", "rev", "pos").write.parquet(land)

    val src = spark.readStream.schema(spark.read.parquet(land).schema).parquet(land)
    val q = StreamingOps.indexDeleteStream(src, idx, ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.read.parquet(idx)
      .select("et", "pid", "aid", "rev", "pos", "ts").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3), r.getInt(4), r.getLong(5)))
      .toSet
    assert(got == Set(
      ("click", 2026001, "a1", 1, 0, 100L),
      ("view", 2026001, "a3", 1, 0, 150L)))
    // untouched partition: byte-identical files (same names, same mtimes)
    assert(files("view", 2026001) == viewBefore)
    // fully-deleted partition: directory dropped
    assert(!new java.io.File(s"$idx/et=click/pid=2026002").exists())
  }

  test("a batch that fails mid-swap replays on restart to the index of a clean run") {
    import spark.implicits._
    val dir = tmpDir()
    val land = s"$dir/tombs"
    val index = (for (et <- Seq("click", "view"); pid <- 1 to 3; a <- 1 to 3)
      yield (et, pid, s"a$a", 1, 0, 1000L * pid + a)).toDF("et", "pid", "aid", "rev", "pos", "ts")
    val tombs = index.select("et", "pid", "ts", "aid", "rev", "pos")
    // two micro-batches: three records of click/1..3, then all of view/2
    tombs.filter(col("et") === "click" && col("ts") % 1000 === 2).coalesce(1).write.parquet(s"$land/0")
    tombs.filter(col("et") === "view" && col("pid") === 2).coalesce(1).write.parquet(s"$land/1")
    def drain(idx: String, ckpt: String): Unit =
      StreamingOps.indexDeleteStream(
          spark.readStream.schema(tombs.schema).option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true").parquet(land),
          idx, ckpt)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val (crashed, clean) = (s"$dir/crashed", s"$dir/clean")
    Seq(crashed, clean).foreach(graft.sources.Storage.appendIndex(index, _))
    drain(clean, s"$dir/ckpt_clean")
    FailingRenameFs.during(spark, crashed)(
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        drain(crashed, s"$dir/ckpt")))
    assert(FailingRenameFs.fired)
    drain(crashed, s"$dir/ckpt")
    assert(FailingRenameFs.rows(spark, crashed) == FailingRenameFs.rows(spark, clean))
    assert(FailingRenameFs.rows(spark, clean).size == 18 - 3 - 3)
    assert(FailingRenameFs.strayDirs(crashed).isEmpty, FailingRenameFs.strayDirs(crashed))
  }
}
