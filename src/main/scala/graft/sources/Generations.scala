package graft.sources

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Object-store-durable delete/compaction for the bucketed events layout
  * (SURVEY.md §2 A5; reference `CassandraEventStore.cs:126-146`, whose
  * DELETE is durable because Cassandra owns the storage engine).
  *
  * `Storage.deleteAndRewrite` swaps bucket partitions in place: each
  * affected bucket is moved out and its staged copy renamed in, and the next
  * rewrite heals a swap that failed part-way. It needs a filesystem whose
  * directory rename is atomic and cheap, and readers see a bucket missing
  * while it is swapped, so it is single-mutator and not for object stores
  * (there a rename copies every file). This layer is
  * the object-store path: data is IMMUTABLE once written, organized as
  * generation directories under one table root, and the only mutation is
  * an atomic swap of a small `_CURRENT` manifest:
  *
  * {{{
  *   root/_CURRENT            # "<bucket>\t<generation dir>" per bucket
  *   root/g-00000001/bucket=0/...parquet   # never modified after write
  *   root/g-00000002/bucket=7/...parquet   # rewrite of bucket 7 only
  * }}}
  *
  * A delete rewrites ONLY the affected buckets into a fresh generation
  * directory (O(affected slice) I/O, not O(table)) and points those
  * buckets' manifest entries at it; untouched buckets keep referencing
  * their old generation — no data copy, no rename of data files. Readers
  * that resolved the previous manifest keep reading intact files; the old
  * generation stays on disk until `vacuum`. The manifest write is a
  * write-temp + atomic-rename (an atomic small-object PUT on object
  * stores), so a crash anywhere leaves either the old or the new manifest,
  * never a torn table.
  *
  * Concurrent writers are safe via optimistic concurrency on the manifest
  * LOG: the versioned snapshot `_manifests/m-<v>` is the commit point,
  * published by write-temp + rename-WITHOUT-overwrite — exactly one writer
  * can create a given version (atomic on HDFS; object stores inject their
  * native conditional PUT / if-none-match via [[Generations.withCommitPrimitive]]
  * — see CommitPrimitive.scala).
  * A loser gets a retryable [[ManifestConflictException]] and must re-read
  * state before retrying (its generation directory is write-once and
  * collision-free, so nothing it wrote needs undoing — it is simply
  * unreferenced and vacuumable). `_CURRENT` is a convergent CACHE of the
  * newest snapshot, refreshed after each commit with rename-OVERWRITE;
  * readers resolve the max snapshot version and fall back to `_CURRENT`
  * only for legacy roots with no `_manifests/` log. This mirrors the
  * multi-writer safety the reference gets from Cassandra's per-partition
  * atomic batches (`CassandraEventStore.cs:67-70`).
  *
  * Every promote appends an immutable snapshot under `_manifests/`,
  * giving MVCC time travel: `readAt(root, v)` reads the table exactly as
  * of promote `v` for as long as `vacuum(keepVersions = n)` has retained
  * that snapshot — vacuum prunes old snapshots TOGETHER with the
  * generations only they reference, so a retained version always reads
  * and a pruned one fails fast at manifest resolution (never with a
  * missing-path crash mid-scan).
  */
/** A promote lost the compare-and-swap on the manifest log: another writer
  * committed the same version first. Retryable — re-read the table state
  * (the conflicting writer's changes included) and promote again. */
class ManifestConflictException(message: String, cause: Throwable = null)
    extends java.io.IOException(message, cause)

object Generations {

  val ManifestFile = "_CURRENT"

  val ManifestDir = "_manifests"

  /** bucket -> generation directory name (relative to the table root). */
  final case class Manifest(entries: Map[Int, String]) {
    def generations: Set[String] = entries.values.toSet
  }

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // '#' lines are writer-provenance comments (unique per promote attempt —
  // the local-FS TOCTOU guard in `promote` compares full snapshot bytes)
  private def parseManifest(text: String): Manifest =
    Manifest(text.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
      val Array(b, g) = line.split('\t')
      b.toInt -> g
    }.toMap)

  private def readManifestFile(f: FileSystem, p: Path): Option[Manifest] =
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      Some(parseManifest(text))
    }

  /** Newest committed promote version; 0 if the log is empty (fresh table
    * or legacy `_CURRENT`-only root). */
  def currentVersion(spark: SparkSession, root: String): Int =
    manifestVersions(spark, root).lastOption.getOrElse(0)

  /** Read the current manifest: the newest snapshot in the manifest log;
    * for legacy roots with no log, the `_CURRENT` cache. None if the table
    * has no promoted data. */
  def readManifest(spark: SparkSession, root: String): Option[Manifest] = {
    val f = fs(spark, root)
    manifestVersions(spark, root).lastOption match {
      case Some(v) => readManifestFile(f, new Path(root, f"$ManifestDir/m-$v%08d"))
      case None    => readManifestFile(f, new Path(root, ManifestFile))
    }
  }

  /** Compare-and-swap publish: commit `m` as version `expectedVersion + 1`,
    * failing with a retryable [[ManifestConflictException]] if any other
    * writer committed since the caller read `expectedVersion`
    * ([[currentVersion]]). The commit point is an atomic create-if-absent
    * of the versioned snapshot through the scheme's [[CommitPrimitive]]:
    * hard-link on local filesystems (where Hadoop's no-overwrite rename is
    * check-then-act), rename-WITHOUT-overwrite on HDFS (atomic under the
    * namenode lock), an injected conditional PUT on object stores
    * ([[withCommitPrimitive]]). A post-commit read-back additionally
    * verifies the winner's bytes survived, so even a NON-atomic fallback
    * primitive (connector rename = copy + last-writer-wins) degrades to
    * detection — the overwritten writer gets a retryable conflict, never a
    * silent loss (CommitPrimitiveSpec proves this against a lossy double).
    * Returns the committed version. */
  def promote(spark: SparkSession, root: String, m: Manifest, expectedVersion: Int): Int = {
    val f = fs(spark, root)
    f.mkdirs(new Path(root, ManifestDir))
    val latest = currentVersion(spark, root)
    if (latest != expectedVersion)
      throw new ManifestConflictException(
        s"promote of $root expected v$expectedVersion but the table is at v$latest; " +
          "re-read state and retry")
    // lease-expiry guard: every generation the new manifest references must
    // exist at commit time. The FULL reference set is probed (not just the
    // writer's own new generations): carried generations are vacuum-live by
    // construction, so their probes only fire if the tip is ALREADY corrupt
    // — and that self-healing property (a bad tip fails loudly at the very
    // next commit instead of propagating forever) is worth O(manifest)
    // exists calls per commit. The common loud case remains a writer
    // stalled past vacuum's orphanGraceMs whose own claimed generation was
    // reclaimed.
    val baseGens: Set[String] = readManifestAt(spark, root, expectedVersion)
      .orElse(readManifestFile(f, new Path(root, ManifestFile)))
      .map(_.generations).getOrElse(Set.empty)
    val missing = m.generations.filterNot(g => f.exists(new Path(root, g)))
    if (missing.nonEmpty)
      sys.error(s"promote of $root references missing generation(s) " +
        s"${missing.toSeq.sorted.mkString(", ")} — vacuumed while this writer was " +
        "stalled past the orphan grace window (or the table tip already references " +
        "reclaimed files); re-run the write from current state")
    // post-CAS re-verify below only needs the writer's NEW generations:
    // carried gens were just probed and are live at the (unchanged) base
    def missingNewGens(): Set[String] =
      (m.generations -- baseGens).filterNot(g => f.exists(new Path(root, g)))
    val next = expectedVersion + 1
    val body = (m.entries.toSeq.sortBy(_._1).map { case (b, g) => s"$b\t$g" }
      :+ s"# promote v$next by ${java.util.UUID.randomUUID()}")
      .mkString("", "\n", "\n").getBytes("UTF-8")
    val snapPath = new Path(root, f"$ManifestDir/m-$next%08d")
    if (!atomicCreateIfAbsent(spark, f, snapPath, body))
      throw new ManifestConflictException(
        s"promote of $root lost the race for v$next; re-read state and retry")
    // belt-and-braces for non-local schemes whose no-overwrite rename is
    // weaker than documented: confirm OUR bytes are what v<next> holds
    val readBack = {
      val in = f.open(snapPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.getBytes("UTF-8")
      finally in.close()
    }
    if (!java.util.Arrays.equals(readBack, body))
      throw new ManifestConflictException(
        s"promote of $root lost the race for v$next (another writer's snapshot survived); " +
          "re-read state and retry")
    // narrow the guard→CAS window: a concurrent vacuum(orphanGraceMs) may
    // have reclaimed this writer's generation BETWEEN the guard above and
    // the CAS (check-then-act). Re-verify after publishing; on loss, make
    // a BEST-EFFORT retraction of our own just-created snapshot and fail
    // loudly either way. This is defense-in-depth inside the lease
    // contract, not a guarantee: a successor that CAS'd on top of our
    // snapshot before the retraction, or a vacuum that pruned versions
    // around it, can still observe the bad reference — the orphanGraceMs
    // window must cover the whole claim→promote span (including this
    // re-verify), and the full pre-CAS probe above makes any surviving
    // corruption fail loudly at the next commit instead of propagating.
    val missingAfter = missingNewGens()
    if (missingAfter.nonEmpty) {
      val retracted = f.delete(snapPath, false)
      refreshCurrent(spark, root)
      sys.error(s"promote of $root committed v$next referencing generation(s) " +
        s"${missingAfter.toSeq.sorted.mkString(", ")} reclaimed by a concurrent vacuum " +
        "(writer stalled past the orphan grace window); " +
        (if (retracted) "the snapshot was retracted" else
          s"RETRACTION FAILED — v$next still references reclaimed files, repair manually") +
        " — re-run the write from current state")
    }
    refreshCurrent(spark, root)
    next
  }

  @volatile private var commitPrimitiveGlobal: Option[CommitPrimitive] = None
  private val commitPrimitiveLocal = new ThreadLocal[Option[CommitPrimitive]] {
    override def initialValue(): Option[CommitPrimitive] = None
  }

  /** Wire a [[CommitPrimitive]] process-wide — the deployment hook (an
    * object-store conditional-PUT implementation, set once at session
    * setup, applies to every thread including streaming micro-batch
    * threads). Pass None to restore scheme-default resolution. */
  def setCommitPrimitive(p: Option[CommitPrimitive]): Unit =
    commitPrimitiveGlobal = p

  /** Run `body` with an injected [[CommitPrimitive]] scoped to the CALLING
    * THREAD — the test hook. Thread-local so a concurrent committer on
    * another thread (a live ingestToVersioned stream, a parallel suite)
    * never commits through this scope's double or loses its own injected
    * primitive when the scope unwinds. Commits that run on OTHER threads
    * (foreachBatch inside a stream started here) do not see the override —
    * wire those with [[setCommitPrimitive]]. */
  def withCommitPrimitive[T](p: CommitPrimitive)(body: => T): T = {
    val prev = commitPrimitiveLocal.get()
    commitPrimitiveLocal.set(Some(p))
    try body finally commitPrimitiveLocal.set(prev)
  }

  /** The shared atomic create-if-absent (both CAS points — the manifest
    * snapshot and the generation-name claim — commit through it): write the
    * body to a temp sibling, then publish it as `target` through the
    * [[CommitPrimitive]] for the scheme (local hard link / HDFS no-overwrite
    * rename / an injected conditional PUT — see CommitPrimitive.scala).
    * Returns whether THIS caller created the target; the temp file never
    * survives. */
  private def atomicCreateIfAbsent(
      spark: SparkSession, f: FileSystem, target: Path, body: Array[Byte]): Boolean = {
    val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(body) finally out.close()
    val primitive = commitPrimitiveLocal.get()
      .orElse(commitPrimitiveGlobal)
      .getOrElse(CommitPrimitive.forFileSystem(f))
    try {
      val created = primitive.publish(f, spark.sparkContext.hadoopConfiguration, tmp, target)
      if (!created) f.delete(tmp, false): Unit
      created
    } catch {
      case e: java.io.IOException =>
        f.delete(tmp, false)
        // lost the race only if someone's target actually exists;
        // anything else (permissions, disk) is a real error, not a CAS loss
        if (f.exists(target)) false else throw e
    }
  }

  /** Refresh the `_CURRENT` cache from the newest snapshot (write-temp +
    * rename-OVERWRITE — atomic small-object PUT). Best-effort and
    * idempotent: out-of-order refreshes from slower committers converge
    * because each refresh re-reads the newest snapshot at copy time, and
    * readers treat the log, not the cache, as authoritative. */
  private def refreshCurrent(spark: SparkSession, root: String): Unit = {
    val f = fs(spark, root)
    manifestVersions(spark, root).lastOption.foreach { v =>
      val in = f.open(new Path(root, f"$ManifestDir/m-$v%08d"))
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.getBytes("UTF-8")
      finally in.close()
      val tmp = new Path(root, s"$ManifestFile.tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, true)
      try out.write(body) finally out.close()
      FileContext.getFileContext(f.getUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, new Path(root, ManifestFile), Options.Rename.OVERWRITE)
    }
  }

  /** Single-writer publish: promote from whatever the current version is.
    * Read-modify-write callers that must detect racing writers should read
    * [[currentVersion]] themselves and call [[promote]] with it. */
  def writeManifest(spark: SparkSession, root: String, m: Manifest): Unit = {
    promote(spark, root, m, currentVersion(spark, root)): Unit
  }

  /** Optimistic-concurrency retry loop around a read-modify-write promote:
    * `body` receives the table state it must base its new manifest on
    * (never cached across attempts — each retry re-reads) and is re-run
    * from fresh state when its final [[promote]] (or any promote inside
    * it, e.g. via [[deleteAndPromote]]) loses the CAS. This is the loser's
    * documented recovery path made into an operator, mirroring how the
    * reference's callers re-issue a batch after a Cassandra write-conflict
    * (per-partition LWT/batch atomicity, CassandraEventStore.cs:67-70).
    * Backoff-free by design: the conflict window is one small-file commit,
    * and the caller count is writers-per-table, not queries. */
  def withConflictRetry[T](maxAttempts: Int = 5)(body: => T): T = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: ManifestConflictException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  private val SnapName = "m-(\\d+)".r

  /** Promote versions with a retained snapshot, ascending. */
  def manifestVersions(spark: SparkSession, root: String): Seq[Int] = {
    val f = fs(spark, root)
    val d = new Path(root, ManifestDir)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).map(_.getPath.getName)
      .flatMap { case SnapName(v) => v.toIntOption; case _ => None }
      .toSeq.sorted
  }

  /** The manifest as of promote `version`; None if that promote never
    * happened (or its snapshot was pruned by `vacuum`). */
  def readManifestAt(spark: SparkSession, root: String, version: Int): Option[Manifest] =
    readManifestFile(fs(spark, root), new Path(root, f"$ManifestDir/m-$version%08d"))

  /** A generation directory name this layout wrote: `g-` + digits. Foreign
    * `g-*` entries a user drops under the root (e.g. `g-backup`) must be
    * ignored everywhere — parsed here, and never vacuumed. */
  private val GenName = "g-(\\d+)".r

  private def genNumber(name: String): Option[Int] =
    name match { case GenName(d) => d.toIntOption; case _ => None }

  /** A claim marker name for generation number `n`. Markers make the
    * generation-name grab a CAS instead of a check-then-act: two writers
    * that both computed the same next number would otherwise race
    * `SaveMode.ErrorIfExists`' existence check and collide MID-WRITE
    * inside one directory (TASK_WRITE_FAILED, not a clean conflict). */
  private def claimPath(root: String, n: Int): Path =
    new Path(root, f".g-$n%08d.claim")

  private val ClaimName = "\\.g-(\\d+)\\.claim".r

  private def claimedNumber(name: String): Option[Int] =
    name match { case ClaimName(d) => d.toIntOption; case _ => None }

  /** Next unused generation number, counting both existing directories
    * and outstanding claims (a crashed writer's orphan claim just skips
    * a number — harmless). */
  def nextGeneration(spark: SparkSession, root: String): String = {
    val f = fs(spark, root)
    val p = new Path(root)
    val existing =
      if (!f.exists(p)) Array.empty[Int]
      else f.listStatus(p).map(_.getPath.getName)
        .flatMap(n => genNumber(n).orElse(claimedNumber(n)))
    f"g-${(if (existing.isEmpty) 0 else existing.max) + 1}%08d"
  }

  /** Atomically claim a fresh generation directory name: create-if-absent
    * on the claim marker, advancing past numbers other writers grab
    * concurrently. After this returns, the name is exclusively owned and
    * the data write cannot collide with a racing writer's. */
  def claimGeneration(spark: SparkSession, root: String): String = {
    val f = fs(spark, root)
    f.mkdirs(new Path(root)): Unit
    var name = nextGeneration(spark, root)
    var n = name.stripPrefix("g-").toInt
    while (!atomicCreateIfAbsent(spark, f, claimPath(root, n),
        s"claimed ${java.util.UUID.randomUUID()}\n".getBytes("UTF-8"))) {
      n += 1
      name = f"g-$n%08d"
    }
    name
  }

  /** Bootstrap: land `rows` (canonical event columns) as generation 1 and
    * promote every written bucket. */
  def bootstrap(
      spark: SparkSession, root: String, rows: DataFrame,
      nBuckets: Int = Storage.DefaultBuckets): Unit = {
    Storage.requireBuckets(nBuckets)
    val gen = claimGeneration(spark, root)
    Storage.appendEvents(rows, s"$root/$gen", nBuckets)
    val buckets = spark.read.parquet(s"$root/$gen")
      .select(col("bucket")).distinct().collect().map(_.getInt(0))
    writeManifest(spark, root, Manifest(buckets.map(_ -> gen).toMap))
  }

  /** Resolve + read the current table state: each bucket from the
    * generation that owns it. Per-generation reads keep `basePath`, so the
    * `bucket` partition column (and its directory pruning) survive. */
  def readCurrent(spark: SparkSession, root: String): DataFrame = {
    val m = readManifest(spark, root).getOrElse(
      sys.error(s"Generations.readCurrent: no manifest under $root"))
    require(m.entries.nonEmpty, s"Generations.readCurrent: $root is empty (all buckets deleted)")
    resolve(spark, root, m)
  }

  /** Time travel: the table exactly as of promote `version`. Valid while
    * `vacuum(keepVersions = n)` retains that version; a pruned version
    * fails HERE, at manifest resolution, with a clear error — never with a
    * missing-path crash mid-scan — because vacuum prunes a snapshot and
    * the generations only it references together. */
  def readAt(spark: SparkSession, root: String, version: Int): DataFrame = {
    val m = readManifestAt(spark, root, version).getOrElse(
      sys.error(s"Generations.readAt: no promote v$version under $root " +
        "(never promoted, or outside the vacuum retention window)"))
    require(m.entries.nonEmpty, s"Generations.readAt: v$version is empty (all buckets deleted)")
    resolve(spark, root, m)
  }

  /** Each bucket from the generation that owns it. Per-generation reads
    * keep `basePath`, so the `bucket` partition column (and its directory
    * pruning) survive. */
  private def resolve(spark: SparkSession, root: String, m: Manifest): DataFrame =
    m.entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (gen, es) =>
      spark.read.option("basePath", s"$root/$gen")
        .parquet(es.keys.toSeq.sorted.map(b => s"$root/$gen/bucket=$b"): _*)
    }.reduce(_ unionByName _)

  /** Time-travel DIFF: every row removed or added between promotes
    * `vOld` and `vNew` — "what did that delete/append/vacuum-era commit
    * actually change", answered from the manifests without replaying the
    * operations. The manifest makes this cheap at any scale: a bucket
    * whose (generation) entry is IDENTICAL in both versions points at the
    * same immutable files (generations are never rewritten in place), so
    * only buckets whose entry CHANGED are read on either side — a
    * single-aggregate delete reads 2/nBuckets of the store, not all of
    * it. Changed buckets PK-anti-join both ways on (id, rev, pos).
    * Output: the event-log columns + `change` ('removed' | 'added').
    * Both versions must be inside the vacuum retention window (same
    * contract as [[readAt]]). */
  def diff(spark: SparkSession, root: String, vOld: Int, vNew: Int): DataFrame = {
    val mo = readManifestAt(spark, root, vOld).getOrElse(
      sys.error(s"Generations.diff: no promote v$vOld under $root"))
    val mn = readManifestAt(spark, root, vNew).getOrElse(
      sys.error(s"Generations.diff: no promote v$vNew under $root"))
    val changed = (mo.entries.keySet ++ mn.entries.keySet)
      .filter(b => mo.entries.get(b) != mn.entries.get(b))
    // a side with no changed buckets is an EMPTY frame — derived from the
    // other side's (or any manifested bucket's) schema, never from
    // readCurrent: the CURRENT manifest may be unrelated to either
    // version (or empty) and must not be able to fail a historical diff
    def readSide(es: Map[Int, String]): Option[DataFrame] =
      if (es.isEmpty) None else Some(resolve(spark, root, Manifest(es)))
    val oOpt = readSide(mo.entries.filter { case (b, _) => changed.contains(b) })
    val nOpt = readSide(mn.entries.filter { case (b, _) => changed.contains(b) })
    val schemaSrc = oOpt.orElse(nOpt)
      .orElse(readSide(mo.entries)).orElse(readSide(mn.entries))
      .getOrElse(sys.error(
        s"Generations.diff: both v$vOld and v$vNew are empty under $root — no schema to diff"))
    val pk = Seq("id", "rev", "pos")
    val o = oOpt.getOrElse(schemaSrc.filter(lit(false)))
    val n = nOpt.getOrElse(schemaSrc.filter(lit(false)))
    o.join(n.select(pk.map(col): _*), pk, "left_anti")
      .withColumn("change", lit("removed"))
      .unionByName(
        n.join(o.select(pk.map(col): _*), pk, "left_anti")
          .withColumn("change", lit("added")))
  }

  /** A5, object-store flavor: anti-join the tombstones against ONLY the
    * affected buckets, write survivors to a fresh generation, atomically
    * repoint those buckets. Untouched buckets are not read, not copied,
    * not renamed; a fully-tombstoned bucket simply leaves the manifest.
    * Returns the new generation name (for audit), or None if no manifested
    * bucket was affected. */
  def deleteAndPromote(
      spark: SparkSession, root: String, tombstones: DataFrame,
      nBuckets: Int = Storage.DefaultBuckets): Option[String] = {
    Storage.requireBuckets(nBuckets)
    // capture the base version BEFORE reading state: any writer that
    // commits after this line makes the final promote() a conflict, so the
    // read-modify-write can never silently overwrite a concurrent commit
    val baseVersion = currentVersion(spark, root)
    val m = readManifest(spark, root).getOrElse(
      sys.error(s"Generations.deleteAndPromote: no manifest under $root"))
    // derive affected buckets DISTRIBUTED (the same xxhash64 expression the
    // writer used): the collect is bounded by nBuckets, not by the
    // tombstone frame, which at 100 TB may itself be huge
    val affected = tombstones
      .select(pmod(xxhash64(col("id")), lit(nBuckets)).cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
      .filter(m.entries.contains).sorted
    if (affected.isEmpty) return None
    val slices = affected.map { b =>
      spark.read.option("basePath", s"$root/${m.entries(b)}")
        .parquet(s"$root/${m.entries(b)}/bucket=$b")
    }.reduce(_ unionByName _)
    // materialize before writing: the new generation is a fresh directory,
    // but the plan still reads the old one — cut it so the write job does
    // not re-list paths mid-flight
    val survivors = Storage.deleteEvents(slices, tombstones).localCheckpoint(true)
    val gen = claimGeneration(spark, root)
    writeGeneration(survivors, root, gen)
    val survivorBuckets = survivors.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    val entries = (m.entries -- affected) ++ survivorBuckets.map(_ -> gen)
    promote(spark, root, Manifest(entries), baseVersion): Unit
    Some(gen)
  }

  /** Append `rows` (canonical event columns: id, rev, pos, ts, data) into
    * the versioned layout with full multi-writer safety: the touched
    * buckets' current rows are read, unioned with the new rows, written as
    * a fresh generation, and promoted in one CAS — O(touched slice) I/O,
    * like [[deleteAndPromote]], never O(table). Untouched buckets keep
    * their old generation.
    *
    * This is the MVCC tier's append (streaming entry:
    * `StreamingOps.ingestToVersioned`): an append racing a concurrent
    * [[deleteAndPromote]]/[[compactAndPromote]] loses the manifest CAS and
    * [[withConflictRetry]] re-runs it from fresh state, so both commits
    * land — unlike `Storage.appendEvents`' plain bucketed tier, which is
    * single-writer. The read-merge-write amplification (a micro-batch
    * re-writes its buckets' current rows) is the LSM-style price of
    * one-generation-per-bucket manifests; size streaming triggers so a
    * batch is a meaningful fraction of its buckets, and let periodic
    * [[compactAndPromote]] + [[vacuum]] bound generation count. Returns the
    * new generation, or None for an empty batch. */
  def appendAndPromote(
      spark: SparkSession, root: String, rows: DataFrame,
      nBuckets: Int = Storage.DefaultBuckets): Option[String] = {
    Storage.requireBuckets(nBuckets)
    val baseVersion = currentVersion(spark, root)
    val entries = readManifest(spark, root).map(_.entries).getOrElse(Map.empty)
    val incoming = rows
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(nBuckets)).cast("int"))
    // touched buckets derived distributed (the writer's hash expression);
    // the collect is bounded by nBuckets, not by the batch
    val touched = incoming.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) return None
    // one read per GENERATION (multi-path), not per bucket — reuse
    // resolve() on the manifest restricted to the touched buckets, so the
    // append path and the read path share one manifest-resolution idiom
    val touchedEntries = entries.view.filterKeys(touched.contains).toMap
    val existing =
      if (touchedEntries.isEmpty) None
      else Some(resolve(spark, root, Manifest(touchedEntries)))
    val merged = existing match {
      case Some(e) => e.unionByName(incoming.select(e.columns.map(col).toSeq: _*))
      case None    => incoming
    }
    // materialize before writing: the plan reads the old generations the
    // promote below supersedes — cut it so the write job's input is pinned
    val pinned = merged.localCheckpoint(true)
    val gen = claimGeneration(spark, root)
    writeGeneration(pinned, root, gen)
    promote(spark, root, Manifest(entries ++ touched.map(_ -> gen)), baseVersion): Unit
    Some(gen)
  }

  /** Compaction, object-store flavor (cf. `Storage.compact`): rewrite the
    * whole current state as one generation of few large sorted files per
    * bucket, then promote. Old generations remain for in-flight readers
    * until `vacuum`. */
  def compactAndPromote(spark: SparkSession, root: String): String = {
    val baseVersion = currentVersion(spark, root)
    val gen = claimGeneration(spark, root)
    writeGeneration(readCurrent(spark, root), root, gen)
    val buckets = spark.read.parquet(s"$root/$gen")
      .select(col("bucket")).distinct().collect().map(_.getInt(0))
    promote(spark, root, Manifest(buckets.map(_ -> gen).toMap), baseVersion): Unit
    gen
  }

  /** Write a generation directory (bucket-partitioned, sorted within
    * buckets, error-if-exists). Racing writers can pick the same
    * [[nextGeneration]] name; the loser's path collision surfaces as a
    * retryable [[ManifestConflictException]], same as losing the manifest
    * CAS — [[withConflictRetry]] handles both uniformly. */
  private def writeGeneration(rows: DataFrame, root: String, gen: String): Unit =
    try {
      rows
        .repartition(col("bucket"))
        .sortWithinPartitions(col("id"), col("rev"), col("pos"))
        .write.mode(SaveMode.ErrorIfExists).partitionBy("bucket").parquet(s"$root/$gen")
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage != null && e.getMessage.contains("already exists") =>
        throw new ManifestConflictException(
          s"generation $gen under $root was claimed by a racing writer; retry", e)
    }

  /** Retention-aware vacuum: keep the newest `keepVersions` promote
    * snapshots and every generation any of them references; prune older
    * snapshots TOGETHER with the generations only they reference, so time
    * travel inside the window always reads and outside it fails fast at
    * `readAt`'s manifest resolution (no snapshot left pointing at deleted
    * paths). Snapshots are pruned before generations: a crash mid-vacuum
    * leaves superseded-but-present generations (reclaimable via
    * `orphanGraceMs`, below), never a readable snapshot with missing data.
    *
    * Safe under the multi-writer model: only a generation some PRUNED
    * snapshot referenced is provably superseded, so only those are deleted
    * unconditionally. A generation NO snapshot ever referenced may be a
    * racing writer's claimed-and-written-but-not-yet-promoted data — its
    * promote would still succeed (the manifest CAS sees no version change)
    * and must not commit deleted files — so never-referenced generations
    * and their claim markers are left alone by default. Pass a finite
    * `orphanGraceMs` to also reclaim never-referenced generations whose
    * directory AND claim marker have been untouched for longer than the
    * grace window (crashed writers, crash-interrupted vacuums); the window
    * must comfortably exceed any writer's write-then-promote span — the
    * same lease-expiry contract as any timeout-based reclaim. Claim markers
    * of reclaimed orphans are kept (numbering skips them), and a writer
    * stalled PAST the grace window is caught by [[promote]]: a pre-CAS
    * missing-generation guard over the FULL reference set (so a corrupt
    * tip also fails loudly at the next commit — self-healing), plus a
    * best-effort post-CAS re-verify that retracts the just-published
    * snapshot if the reclaim landed inside the guard→CAS window. These
    * narrow but do not replace the lease contract: orphanGraceMs must
    * comfortably exceed any writer's whole claim→promote span.
    *
    * Run once in-flight READERS of evicted versions have drained — the
    * window length is the caller's retention policy, like any MVCC vacuum.
    * Returns dropped generations. */
  def vacuum(
      spark: SparkSession, root: String, keepVersions: Int = 1,
      orphanGraceMs: Long = Long.MaxValue): Seq[String] = {
    require(keepVersions >= 1, s"vacuum must retain the current version (got $keepVersions)")
    val f = fs(spark, root)
    val versions = manifestVersions(spark, root)
    val retained = versions.takeRight(keepVersions)
    val pruned = versions.dropRight(keepVersions)
    val live: Set[String] =
      if (retained.isEmpty) readManifest(spark, root).map(_.generations).getOrElse(Set.empty)
      else retained.flatMap(v => readManifestAt(spark, root, v)
        .map(_.generations).getOrElse(Set.empty[String])).toSet
    // read the snapshots being pruned BEFORE deleting them: they are the
    // proof of which generations were once promoted and are now superseded
    val supersededRefs: Set[String] = pruned.flatMap(v => readManifestAt(spark, root, v)
      .map(_.generations).getOrElse(Set.empty[String])).toSet
    pruned.foreach { v =>
      f.delete(new Path(root, f"$ManifestDir/m-$v%08d"), false): Unit
    }
    val unreferenced = f.listStatus(new Path(root)).map(_.getPath.getName)
      .filter(n => genNumber(n).isDefined && !live.contains(n)).toSeq.sorted
    val (superseded, orphans) = unreferenced.partition(supersededRefs.contains)
    superseded.foreach { n =>
      f.delete(new Path(root, n), true): Unit
      // a promoted-and-superseded generation's claim marker goes with it
      genNumber(n).foreach(num => f.delete(claimPath(root, num), false): Unit)
    }
    val reclaimed =
      if (orphanGraceMs == Long.MaxValue) Seq.empty[String]
      else {
        val now = System.currentTimeMillis()
        def olderThanGrace(p: Path): Boolean =
          !f.exists(p) || now - f.getFileStatus(p).getModificationTime >= orphanGraceMs
        orphans.filter { n =>
          olderThanGrace(new Path(root, n)) &&
            genNumber(n).forall(num => olderThanGrace(claimPath(root, num)))
        }
      }
    reclaimed.foreach(n => f.delete(new Path(root, n), true): Unit)
    superseded ++ reclaimed
  }
}
