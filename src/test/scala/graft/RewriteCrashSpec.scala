package graft

import java.io.IOException
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.ForgetOps
import graft.sources.{Levels, LocalFs, Storage}

/** An in-place partition rewrite that fails on its first rename into a
  * partition directory, and is then healed by a rerun, a later rewrite or a
  * fold, leaves what a clean run leaves: every survivor, and no staging
  * directory. */
class RewriteCrashSpec extends SparkSpec {
  import spark.implicits._

  /** Writes the same table at two roots with `write`; runs `op` cleanly on
    * one, then `between`; on the other runs `op` with [[FailingRenameFs]]
    * armed, expects it to fail, runs `between`, and runs `op` again. Both
    * must then hold the same rows, and the rerun root no directory but the
    * table's own `k=v` ones. */
  private def assertRerunEqualsClean(write: String => Unit, between: String => Unit = _ => ())(
      op: String => Unit): Unit = {
    val dir = tmpDir()
    val (crashed, clean) = (s"$dir/crashed", s"$dir/clean")
    write(crashed)
    write(clean)
    op(clean)
    between(clean)
    FailingRenameFs.during(spark, crashed)(intercept[Exception](op(crashed)))
    assert(FailingRenameFs.fired, "no rename into a partition directory failed")
    between(crashed)
    op(crashed)
    assert(FailingRenameFs.rows(spark, crashed) == FailingRenameFs.rows(spark, clean))
    assert(FailingRenameFs.strayDirs(crashed).isEmpty, FailingRenameFs.strayDirs(crashed))
  }

  private val rows = (1 to 20).flatMap { a =>
    (1 to 3).map(r => (s"agg-$a".getBytes, r, 0, 100L + r, s"e$a-$r".getBytes))
  }.toDF("id", "rev", "pos", "ts", "data")

  test("deleteAndRewrite: a failed swap, then a rerun, equals a clean run") {
    // one row of agg-7, every row of agg-3 and agg-11: several buckets
    val tomb = rows.filter(col("id").isin("agg-3".getBytes, "agg-11".getBytes) ||
        (col("id") === lit("agg-7".getBytes) && col("rev") === 2))
      .select("id", "rev", "pos")
    assertRerunEqualsClean(Storage.appendEvents(rows, _, nBuckets = 4))(
      Storage.deleteAndRewrite(spark, _, tomb, nBuckets = 4))
  }

  test("deleteAndRewrite: a row appended after a failed swap into its emptied bucket " +
      "survives the rerun") {
    val tomb = rows.filter(col("id") === lit("agg-7".getBytes) && col("rev") === 2)
      .select("id", "rev", "pos")
    // the failed swap moved agg-7's bucket out; the append makes it again
    val later = Seq(("agg-7".getBytes, 4, 0, 104L, "e7-4".getBytes)).toDF("id", "rev", "pos", "ts", "data")
    assertRerunEqualsClean(Storage.appendEvents(rows, _, nBuckets = 4),
      between = Storage.appendEvents(later, _, nBuckets = 4))(
      Storage.deleteAndRewrite(spark, _, tomb, nBuckets = 4))
  }

  test("deleteIndexAndRewrite: a failed swap of (et, pid) partitions, then a rerun, " +
      "equals a clean run") {
    val index = (for (et <- Seq("click", "view", "buy"); pid <- 1 to 3; a <- 1 to 3)
      yield (et, pid, s"a$a".getBytes, 1, 0, 1000L * pid + a)).toDF("et", "pid", "aid", "rev", "pos", "ts")
    // part of click/1 and view/2, and the whole of buy/3
    val tomb = index.filter((col("et") === "click" && col("pid") === 1 && col("ts") =!= 1001L) ||
        (col("et") === "view" && col("pid") === 2 && col("ts") === 2002L) ||
        (col("et") === "buy" && col("pid") === 3))
      .select("et", "pid", "ts", "aid", "rev", "pos")
    assertRerunEqualsClean(Storage.appendIndex(index, _))(
      Storage.deleteIndexAndRewrite(spark, _, tomb))
  }

  private val banded = (1 to 40).map(i => (i.toLong, i % 4, i % 3, s"doc-$i"))
    .toDF("id", "band", "bucket", "payload")

  test("forgetByScan on a flat root: a failed swap, then a rerun, equals a clean run") {
    assertRerunEqualsClean(banded.write.partitionBy("band", "bucket").parquet(_))(
      ForgetOps.forgetByScan(spark, _, Seq(2L, 5L, 12L, 13L).toDF("id"), "id",
        Seq("band", "bucket")))
  }

  test("forgetByScan heals a failed swap before it scans: ids in the staged partition " +
      "are forgotten too") {
    val dir = tmpDir()
    val (crashed, clean) = (s"$dir/crashed", s"$dir/clean")
    Seq(crashed, clean).foreach(banded.write.partitionBy("band", "bucket").parquet(_))
    def leaves(root: String): Set[String] = {
      def walk(d: java.io.File, rel: String): Seq[String] = {
        val subs = d.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
        if (subs.isEmpty) Seq(rel) else subs.toSeq.flatMap(s => walk(s, s"$rel/${s.getName}"))
      }
      walk(new java.io.File(root), "").toSet
    }
    def forget(root: String, ids: DataFrame): Unit =
      ForgetOps.forgetByScan(spark, root, ids, "id", Seq("band", "bucket"))
    val first = Seq(2L, 5L, 12L, 13L).toDF("id")
    FailingRenameFs.during(spark, crashed)(intercept[Exception](forget(crashed, first)))
    assert(FailingRenameFs.fired)
    // the partition whose swap failed: deleted, its survivors only staged
    val Seq(staged) = (leaves(clean) -- leaves(crashed)).toSeq
    val Seq(band, bucket) = staged.split("/").toSeq.tail.map(_.split("=")(1).toInt)
    val both = first.union(banded.filter(col("band") === band && col("bucket") === bucket)
      .select("id").filter(!col("id").isin(2L, 5L, 12L, 13L)))
    forget(clean, both)
    forget(crashed, both)
    assert(FailingRenameFs.rows(spark, crashed) == FailingRenameFs.rows(spark, clean))
    assert(FailingRenameFs.strayDirs(crashed).isEmpty, FailingRenameFs.strayDirs(crashed))
  }

  test("forgetByScan on __batch= levels: a failed swap, then a rerun, equals a clean run") {
    assertRerunEqualsClean { root =>
      banded.filter(col("id") <= 25).write.partitionBy("band", "bucket").parquet(s"$root/__batch=0")
      banded.filter(col("id") > 25).write.partitionBy("band", "bucket").parquet(s"$root/__batch=1")
    }(ForgetOps.forgetByScan(spark, _, Seq(2L, 5L, 26L, 31L).toDF("id"), "id",
      Seq("band", "bucket")))
  }

  test("a fold heals a level whose rewrite failed mid-swap before folding it") {
    def write(root: String): Unit = (0 to 2).foreach { b =>
      banded.filter(col("id") % 3 === b)
        .select(col("id"), col("payload"), (col("id") % 4).cast("int").as("part"))
        .write.partitionBy("part").parquet(Levels.dir(root, b))
    }
    // level 0 holds ids 3, 6, 9, ...: drop id 6 from its part=2
    def drop(root: String): Unit = Levels.rewritePartitions(spark, Levels.dir(root, 0),
      Seq(Seq("part" -> "2")), Seq("id"))(_.filter(col("id") =!= 6L))
    def fold(root: String): Unit = Levels.fold(spark, root,
      Levels.dedupOn(spark, "id LONG, payload STRING, part INT", Seq("id"), Seq("part")))
    val dir = tmpDir()
    val (crashed, clean) = (s"$dir/crashed", s"$dir/clean")
    Seq(crashed, clean).foreach(write)
    drop(clean)
    fold(clean)
    FailingRenameFs.during(spark, crashed)(intercept[Exception](drop(crashed)))
    assert(FailingRenameFs.fired)
    fold(crashed)
    assert(FailingRenameFs.rows(spark, crashed) == FailingRenameFs.rows(spark, clean))
    assert(FailingRenameFs.strayDirs(crashed).isEmpty, FailingRenameFs.strayDirs(crashed))
  }
}

/** The engine's `file:` FileSystem, failing ONE rename whose destination is
  * a partition directory of the armed table: a path below its root whose
  * every component is a `k=v` name not starting with `.`, as Spark's
  * partition discovery reads one. A staging or task directory
  * (`_rewriting`, `_temporary`, `.spark-staging-*`) and anything below it
  * is not a partition directory. */
class FailingRenameFs extends LocalFs {
  override def rename(src: Path, dst: Path): Boolean = {
    if (FailingRenameFs.fire(dst.toUri.getPath))
      throw new IOException(s"injected failure renaming $src to $dst")
    super.rename(src, dst)
  }
}

object FailingRenameFs {
  @volatile private var armed: Option[String] = None
  @volatile var fired = false

  private def isPartitionDir(root: String, p: String): Boolean =
    p.startsWith(root + "/") && p.stripPrefix(root + "/").split("/").forall(n =>
      n.contains("=") && !n.startsWith("."))

  private[graft] def fire(p: String): Boolean = synchronized {
    val hit = armed.exists(isPartitionDir(_, p))
    if (hit) {
      armed = None
      fired = true
    }
    hit
  }

  /** Runs `body` with this FileSystem as the `file:` scheme of the session
    * and of the context (cache off), armed to fail one rename into a
    * partition directory under `root`. */
  def during[T](spark: SparkSession, root: String)(body: => T): T = {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq(LocalFs.ImplKey -> classOf[FailingRenameFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    val before = keys.map { case (k, _) => k -> Option(hc.get(k)) }
    keys.foreach { case (k, v) => spark.conf.set(k, v); hc.set(k, v) }
    synchronized { armed = Some(new java.io.File(root).getAbsolutePath); fired = false }
    try body finally {
      synchronized { armed = None }
      keys.foreach { case (k, _) => spark.conf.unset(k) }
      before.foreach { case (k, v) => v.fold(hc.unset(k))(hc.set(k, _)) }
    }
  }

  /** The table's rows, partition columns included, as sorted strings. */
  def rows(spark: SparkSession, root: String): Seq[String] = {
    val df: DataFrame = spark.read.parquet(root)
    df.select(df.columns.sorted.map(col): _*).collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => new String(b, "UTF-8")
      case v => String.valueOf(v)
    }.mkString("|")).sorted
  }

  /** Directories under `root` that are not a partition directory. */
  def strayDirs(root: String): Seq[String] = {
    val r = new java.io.File(root).getAbsolutePath
    def walk(d: java.io.File): Seq[String] = d.listFiles().toSeq.filter(_.isDirectory)
      .flatMap(s => (if (isPartitionDir(r, s.getAbsolutePath)) Nil else Seq(s.getPath)) ++ walk(s))
    walk(new java.io.File(r))
  }
}
