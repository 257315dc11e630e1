package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The leveled artifact layout — the ONE module that knows how a streamed
  * derived artifact sits on disk (README "Leveled artifact layout" states
  * the rules once; every sink, compactor and forget face goes through
  * here):
  *
  *  - a root holds one `__batch=<id>` level directory per micro-batch id
  *    (hive-style, so partition discovery reads the whole root);
  *  - `__batch=-1` is the folded base, below every stream batch id;
  *  - the newest level `>= 0` is never folded: it is the only one a
  *    checkpoint can replay;
  *  - a batch refuses a root that already holds a level AHEAD of it
  *    ([[requireBatchLineage]]); a forget that rewrote levels in place
  *    lands a dataless fence at `max + 1` ([[fence]]);
  *  - [[fold]] writes staging, retires the base, installs the staging as
  *    the base, drops the folded deltas, then drops the retired copy.
  *    Every crash point keeps all rows in a visible level or in one of
  *    the two underscore leftovers, which re-enter a rerun (and
  *    [[stateScan]]) at pseudo-levels −2 (staging) and −3 (retired);
  *  - [[rewritePartitions]] rewrites named hive partitions of one root
  *    (a level, or any flat partitioned table) through a `_rewriting`
  *    staging that the next rewrite of that root heals. */
private[graft] object Levels {

  private val Prefix = "__batch="
  /** The folded base's level id. */
  val BaseId = -1L
  private val Staging = "_compacting"
  private val Retired = "_retired"
  private val Staged = "_staged_"
  private val Rewriting = "_rewriting"
  private val Replaced = "_replaced"
  private val ManifestStaging = "_staging_kmfold"
  private val Manifest = "_folded.json"

  def name(id: Long): String = Prefix + id
  def dir(root: String, id: Long): String = s"$root/${name(id)}"
  def base(root: String): String = dir(root, BaseId)

  /** A bootstrap's base directory, refusing a root that already has one. */
  def newBase(spark: SparkSession, root: String, op: String): String = {
    val (f, p) = fs(spark, root)
    val b = new Path(p, name(BaseId))
    require(!f.exists(b), s"$b already exists — $op bootstraps once")
    b.toString
  }

  def fs(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def idOf(name: String): Option[Long] =
    if (name.startsWith(Prefix)) Some(name.stripPrefix(Prefix).toLong) else None

  /** The level ids under `root`, ascending (empty when `root` is absent). */
  def ids(f: FileSystem, root: Path): Seq[Long] =
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(s => idOf(s.getPath.getName)).sorted

  def ids(spark: SparkSession, root: String): Seq[Long] = {
    val (f, p) = fs(spark, root)
    ids(f, p)
  }

  /** The level directories under `root`, in id order. */
  def dirs(spark: SparkSession, root: String): Seq[String] =
    ids(spark, root).map(dir(root, _))

  /** The rewrite roots of a possibly-leveled layout: its levels when it
    * has any, else the flat root itself. */
  def dirsOrRoot(spark: SparkSession, root: String): Seq[String] = {
    val levels = dirs(spark, root)
    if (levels.nonEmpty) levels else Seq(root)
  }

  /** The ids of the levels whose write committed (`_SUCCESS` present). */
  def committed(f: FileSystem, root: Path): Seq[Long] =
    ids(f, root).filter(id => f.exists(new Path(new Path(root, name(id)), "_SUCCESS")))

  /** Whether `dir` holds any data file (a fence or an empty landing holds
    * only underscore markers). */
  def hasData(f: FileSystem, dir: Path): Boolean =
    f.listStatus(dir).exists(s => !s.getPath.getName.startsWith("_"))

  /** Checkpoint-lineage guard: under ONE checkpoint batch ids only move
    * forward, so a level AHEAD of this batch means the root belongs to a
    * different (older) checkpoint — proceeding would clobber its
    * batch-id-derived directories and (for frontier-carrying sinks) read a
    * wrong corpus frontier. A replay of THIS batch legitimately sees its
    * own id, never more. */
  def requireBatchLineage(f: FileSystem, dir: Path, batchId: Long, op: String,
      outDir: String): Unit = {
    val ahead = ids(f, dir).filter(_ > batchId)
    require(ahead.isEmpty,
      s"$op: $outDir already holds batch ${if (ahead.isEmpty) -1 else ahead.max} " +
        s"but this checkpoint is at batch $batchId — the sink was written by a " +
        "different checkpoint lineage; use a fresh output directory (or the " +
        "original checkpoint) instead of silently overwriting its history")
  }

  /** Land a DATALESS `__batch=max+1` lineage fence on each root that holds
    * streamed levels (a flat layout or a pure `-1` base has no checkpoint
    * to fence against): a bare directory plus a `_SUCCESS` marker, visible
    * to [[requireBatchLineage]] and invisible to partition discovery. After
    * a forget rewrote levels in place, a stale-checkpoint restart would
    * replay its newest batch and resurrect forgotten rows; the fence makes
    * it refuse, while the live stream's NEXT batch id equals the fence and
    * overwrites it. Idempotent: a dataless newest level is not fenced again
    * (stacked fences would advance the frontier past the live stream). */
  def fence(spark: SparkSession, roots: String*): Unit =
    roots.foreach { root =>
      val (f, p) = fs(spark, root)
      val levels = ids(f, p)
      if (levels.exists(_ >= 0) && hasData(f, new Path(p, name(levels.max)))) {
        val d = new Path(p, name(levels.max + 1L))
        f.mkdirs(d): Unit
        f.create(new Path(d, "_SUCCESS"), true).close()
      }
    }

  /** Pin a sink's integer parameters in its sidecar before the first
    * landing: refuse with `refusal(mismatches)` when a recorded value
    * disagrees (mismatches render as `key: index=<recorded>
    * <callerLabel>=<value>`), else write the sidecar if absent. Sidecar
    * first, data second: a crash between the two leaves the parameters
    * recorded and no data, so a drifted restart still fails loudly. */
  def pin(spark: SparkSession, root: String, fields: Seq[(String, Long)],
      callerLabel: String = "caller", file: String = "_meta.json")(
      refusal: Seq[String] => String): Unit =
    graft.operators.ParamMeta.readText(spark, root, file) match {
      case Some(text) =>
        val bad = graft.operators.ParamMeta.mismatches(text, fields, callerLabel)
        require(bad.isEmpty, refusal(bad))
      case None =>
        val (f, p) = fs(spark, root)
        f.mkdirs(p): Unit
        graft.operators.ParamMeta.write(spark, root, fields, file)
    }

  /** Replace `dir`'s contents without the mid-Overwrite data-loss window
    * a same-directory `SaveMode.Overwrite` opens (it truncates the target
    * at job start, so a crash mid-write loses the level's survivor rows):
    * materialize to an invisible `_staged_<name>` sibling, then delete the
    * target and rename the staging in. Every crash point leaves the full
    * row set in one of the two; [[heal]] restores the invariant. A
    * dataless target (a fence) is left alone — rewriting it would plant a
    * part file that makes the fence read as a real level. */
  def stagedOverwrite(dir: String, df: DataFrame): Unit = {
    val (f, p) = fs(df.sparkSession, dir)
    if (f.exists(p) && !hasData(f, p)) return
    val staging = new Path(p.getParent, Staged + p.getName)
    if (f.exists(staging)) f.delete(staging, true): Unit
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    require(f.delete(p, true) || !f.exists(p),
      s"stagedOverwrite: delete $p failed")
    require(f.rename(staging, p), s"stagedOverwrite: rename $staging -> $p failed")
  }

  /** Rewrite the hive partitions `parts` of the table at `root` in place to
    * `keep(their rows)` — the one partition rewrite behind
    * [[Storage.deleteAndRewrite]], [[Storage.deleteIndexAndRewrite]] and
    * the partition-pruned ForgetOps faces. Each entry of `parts` names one
    * leaf partition as (column, value) pairs in directory order; no other
    * partition is read or touched. The rows are read through
    * [[Storage.readEvents]], which lists files only under the named
    * directories.
    *
    * Crash order: write `keep(rows)` once to `root/_rewriting`
    * (repartitioned by the partition columns, sorted by `sortCols`); then,
    * one partition at a time, move the target into the staging's
    * `_replaced` and rename its staged copy in, or, when it kept no row,
    * remove the ancestors it leaves empty; then drop the staging. The
    * staging is complete (`_SUCCESS`) before the first target moves and is
    * never dropped on failure, so at every crash point each partition's
    * rows sit in its target or its staged copy. The next rewrite of `root`
    * heals first ([[healRewrite]]), so a rerun of the same rewrite equals a
    * clean run. Single-mutator per root. */
  def rewritePartitions(spark: SparkSession, root: String,
      parts: Seq[Seq[(String, String)]], sortCols: Seq[String])(
      keep: DataFrame => DataFrame): Unit = {
    val (f, p) = fs(spark, root)
    healRewrite(f, p)
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val targets = parts.map(_.map { case (c, v) => s"${escapePathName(c)}=${escapePathName(v)}" }
      .mkString("/")).distinct
    if (!targets.exists(t => f.exists(new Path(p, t)))) return
    val cols = parts.head.map(_._1)
    val staging = new Path(p, Rewriting)
    keep(Storage.readEvents(spark, root)
        .filter(parts.map(_.map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)).reduce(_ || _)))
      .repartition(cols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.partitionBy(cols: _*).parquet(staging.toString)
    (targets ++ stagedLeaves(f, staging)).distinct.foreach { t =>
      val target = new Path(p, t)
      if (f.exists(target)) {
        val replaced = new Path(new Path(staging, Replaced), t)
        f.mkdirs(replaced.getParent): Unit
        require(f.rename(target, replaced), s"rewritePartitions: rename $target failed")
      }
      if (f.exists(new Path(staging, t))) install(f, p, t)
      else {
        var d = target.getParent
        while (d.depth > p.depth && f.exists(d) && f.listStatus(d).isEmpty) {
          f.delete(d, false): Unit
          d = d.getParent
        }
      }
    }
    f.delete(staging, true): Unit
  }

  /** Recover a [[rewritePartitions]] of `root` that failed. A complete
    * staging (`_SUCCESS`) renames in each staged partition whose target is
    * missing: the failure fell between moving the target out and renaming
    * the staged copy in. When the target was moved out and an append (a
    * later `ingestTo` or `indexTo` batch) has made it again, its files are
    * newer than the rewrite: they join the staged copy first. A target
    * never moved out is complete, and its staged copy is dropped. An
    * incomplete staging never touched a target. Either way the staging
    * goes. */
  def healRewrite(spark: SparkSession, root: String): Unit = {
    val (f, p) = fs(spark, root)
    healRewrite(f, p)
  }

  private def healRewrite(f: FileSystem, root: Path): Unit = {
    val staging = new Path(root, Rewriting)
    if (!f.exists(staging)) return
    if (f.exists(new Path(staging, "_SUCCESS")))
      stagedLeaves(f, staging).foreach { t =>
        val target = new Path(root, t)
        if (f.exists(target) && f.exists(new Path(new Path(staging, Replaced), t))) {
          f.listStatus(target).map(_.getPath).filterNot(_.getName.matches("[_.].*")).foreach(d =>
            require(f.rename(d, new Path(new Path(staging, t), d.getName)), s"healRewrite: rename $d failed"))
          f.delete(target, true): Unit
        }
        if (!f.exists(target)) install(f, root, t)
      }
    f.delete(staging, true): Unit
  }

  /** Rename the staged partition `t` over `root/t`, making its parent. */
  private def install(f: FileSystem, root: Path, t: String): Unit = {
    val target = new Path(root, t)
    f.mkdirs(target.getParent): Unit
    require(f.rename(new Path(new Path(root, Rewriting), t), target),
      s"rewritePartitions: rename into $target failed")
  }

  /** The leaf `k=v` directories under `dir`, relative to it. */
  private def stagedLeaves(f: FileSystem, dir: Path): Seq[String] = {
    def walk(d: Path, rel: Seq[String]): Seq[String] = {
      val subs = f.listStatus(d).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("=")).map(_.getPath.getName)
      if (subs.isEmpty) Seq(rel.mkString("/")).filter(_.nonEmpty)
      else subs.flatMap(n => walk(new Path(d, n), rel :+ n))
    }
    walk(dir, Seq.empty)
  }

  /** Recover [[stagedOverwrite]] leftovers under `root`: a staging whose
    * target is MISSING holds the survivors of a swap that crashed between
    * delete and rename — rename it in; one whose target still exists is a
    * stale (possibly partial) staging — drop it, the target is complete. */
  def heal(spark: SparkSession, root: String): Unit = {
    val (f, p) = fs(spark, root)
    if (!f.exists(p)) return
    f.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith(Staged)).foreach { st =>
        val target = new Path(p, st.getName.stripPrefix(Staged))
        if (!f.exists(target))
          require(f.rename(st, target), s"heal: rename $st failed")
        else f.delete(st, true): Unit
      }
  }

  /** Present [[fold]] crash leftovers under `root` with their pseudo-level
    * ids (staging −2, retired −3). `file` names the per-level file of a
    * file fold, whose leftovers carry its extension. */
  def foldLeftovers(f: FileSystem, root: Path,
      file: Option[String] = None): Seq[(Path, Long)] =
    leftoverPaths(root, file).filter(l => f.exists(l._1))

  private def leftoverPaths(root: Path, file: Option[String]): Seq[(Path, Long)] = {
    val ext = file.fold("")(n => n.substring(n.lastIndexOf('.')))
    Seq(new Path(root, Staging + ext) -> -2L, new Path(root, Retired + ext) -> -3L)
  }

  /** Crash-window-exact scan of an accumulator root: the visible levels
    * unioned with any fold leftovers, so a read in the hide window (base
    * retired, staging not yet installed) still sees the folded history.
    * Read-only; callers dedup the overlap window (base installed, folded
    * delta not yet dropped) on their own tags/keys. */
  def stateScan(spark: SparkSession, root: String, ddl: String): DataFrame = {
    val (f, p) = fs(spark, root)
    val cols = dataCols(ddl)
    val visible = spark.read.schema(ddl).option("basePath", root).parquet(root)
      .select(cols: _*)
    foldLeftovers(f, p).foldLeft(visible)((acc, l) =>
      acc.unionByName(spark.read.schema(ddl).parquet(l._1.toString).select(cols: _*)))
  }

  /** Rerun a crashed fold BEFORE a batch step reads `root` to compute state
    * it will PERSIST (admissions, dedup flags, novel-chunk sets): a
    * decision from the visible levels alone would be wrong AND durable.
    * Single-writer context (a leftover means the out-of-band compaction
    * crashed); two exists probes in the steady state. */
  def healFoldLeftovers(spark: SparkSession, root: String, step: Step): Unit = {
    val (f, p) = fs(spark, root)
    if (foldLeftovers(f, p).nonEmpty) fold(spark, root, step)
  }

  /** A fold's staging step: `(root, folded level paths, present leftovers
    * with their pseudo-level ids, staging path)` — it writes the folded
    * copy to the staging path. */
  type Step = (String, Seq[String], Seq[(String, Long)], String) => Unit

  /** The staged-rename fold under `root`: every level below the newest
    * (the base included) plus any crash leftovers go through `step` into
    * staging; then retire the base, install the staging as `__batch=-1`,
    * drop the folded deltas, drop the retired copy. No-op when only the
    * base and the protected newest delta exist and nothing is left over.
    * `file` folds one named file per level instead of whole directories.
    * Single-maintainer: never concurrent with the sink's stream. */
  def fold(spark: SparkSession, root: String, step: Step,
      file: Option[String] = None): Unit = {
    val (f, p) = fs(spark, root)
    if (!f.exists(p)) return
    val all = ids(f, p)
    val newest = all.filter(_ >= 0).lastOption
    val folded = all.filterNot(newest.contains)
    // a forget that failed mid-swap left a level's rows in its staging
    folded.foreach(id => healRewrite(f, new Path(p, name(id))))
    val leftovers = foldLeftovers(f, p, file)
    if (folded.forall(_ == BaseId) && leftovers.isEmpty) return
    def at(id: Long) = file.fold(new Path(p, name(id)))(new Path(new Path(p, name(id)), _))
    val sources = folded.map(at).filter(f.exists)
    if (sources.isEmpty && leftovers.isEmpty) return
    val Seq(staging, retired) = leftoverPaths(p, file).map(_._1)
    step(root, sources.map(_.toString), leftovers.map(l => (l._1.toString, l._2)),
      staging.toString)
    val base = at(BaseId)
    f.mkdirs(base.getParent): Unit
    // the retired copy's content is now ⊆ staging, safe to drop first
    if (f.exists(retired)) f.delete(retired, true): Unit
    if (f.exists(base)) require(f.rename(base, retired), s"rename $base failed")
    require(f.rename(staging, base), s"rename $staging -> $base failed")
    folded.filter(_ != BaseId).foreach(id => f.delete(new Path(p, name(id)), true): Unit)
    f.delete(retired, true): Unit
  }

  /** Dedup-on-`keys` staging step: duplicates across levels and leftovers
    * are identical rows by every caller's contract (write-once ids, or
    * source-tagged partials that must never be summed by a fold). */
  def dedupOn(spark: SparkSession, ddl: String, keys: Seq[String],
      partitionCols: Seq[String] = Seq.empty): Step = (root, levels, leftovers, staging) => {
    val rows = union(spark, root, ddl, levels, leftovers).drop("__batch")
      .dropDuplicates(keys)
    // materialized before any directory is touched: the plan reads the
    // very directories the rename steps retire
    (if (partitionCols.nonEmpty) rows.repartition(partitionCols.map(col): _*) else rows)
      .localCheckpoint(true)
      .write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(staging)
  }

  /** Latest-wins-on-`keys` staging step, for VERSIONED state where a key's
    * superseded snapshots are not duplicates: keep each key's rows of its
    * newest level (a version may be multi-row). The pseudo-level order of
    * the leftovers is what makes this exact: staging (−2) is a finished
    * resolution newer than the retired base (−3), and in the window where
    * staging exists no delta has been dropped yet. */
  def latestWinsOn(spark: SparkSession, ddl: String,
      keys: Seq[String]): Step = (root, levels, leftovers, staging) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    union(spark, root, ddl, levels, leftovers)
      .withColumn("__mb", max(col("__batch")).over(w))
      .filter(col("__batch") === col("__mb"))
      .select(dataCols(ddl): _*)
      .localCheckpoint(true)
      .write.mode(SaveMode.Overwrite).parquet(staging)
  }

  private def dataCols(ddl: String) =
    org.apache.spark.sql.types.StructType.fromDDL(ddl).fieldNames.toSeq.map(col)

  /** Levels (their `__batch` from partition discovery) plus leftovers (at
    * their pseudo-level ids), as one frame of `ddl` + `__batch`. */
  private def union(spark: SparkSession, root: String, ddl: String,
      levels: Seq[String], leftovers: Seq[(String, Long)]): DataFrame = {
    val cols = dataCols(ddl) :+ col("__batch")
    val visible =
      if (levels.isEmpty) Seq.empty
      else Seq(spark.read.schema(s"$ddl, __batch LONG").option("basePath", root)
        .parquet(levels: _*).select(cols: _*))
    (visible ++ leftovers.map { case (l, id) =>
      spark.read.schema(ddl).parquet(l).withColumn("__batch", lit(id)).select(cols: _*)
    }).reduce(_ unionByName _)
  }

  /** The manifest fold's completed staging under `root`, if any: (staging
    * path, folded level ids). A staging without its manifest is an
    * incomplete write — invisible here, redone by the next fold. This is
    * the OTHER staged-rename protocol, for state whose merge is not
    * idempotent under leftover re-entry (integer sums). */
  def manifestStaging(f: FileSystem, root: Path): Option[(Path, Set[Long])] = {
    val staging = new Path(root, ManifestStaging)
    val manifest = new Path(staging, Manifest)
    if (!f.exists(manifest)) return None
    val in = f.open(manifest)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    Some((staging, """__batch=(-?\d+)""".r.findAllMatchIn(text).map(_.group(1).toLong).toSet))
  }

  /** The manifest fold's staging directory (written by the caller). */
  def manifestStagingDir(root: Path): Path = new Path(root, ManifestStaging)

  /** Mark a written manifest-fold staging complete by recording the
    * folded level ids: from this instant readers count those levels via
    * the staging ([[manifestStaging]]) and skip the live sources. */
  def writeFoldManifest(f: FileSystem, root: Path, folded: Set[Long]): Unit = {
    val out = f.create(new Path(manifestStagingDir(root), Manifest), true)
    try out.write(folded.toSeq.sorted.map(id => s""""${name(id)}"""")
      .mkString("""{"folded":[""", ",", "]}").getBytes("UTF-8"))
    finally out.close()
  }

  /** Finish a complete manifest fold: drop the folded levels, then
    * install the staging under the highest folded id. Rerunnable after a
    * crash at any point of it. */
  def installManifestFold(f: FileSystem, root: Path, folded: Set[Long]): Unit = {
    folded.foreach(id => f.delete(new Path(root, name(id)), true): Unit)
    f.rename(manifestStagingDir(root), new Path(root, name(folded.max))): Unit
  }
}
