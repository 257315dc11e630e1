package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TimeFns
import graft.model.Model

/** Physical layout + write paths (SURVEY.md §2 A1-A3, A6-A8, A10-A12;
  * reference /root/reference/src/One.Inception.EventStore.Cassandra/).
  *
  * Layout decisions, chosen for a 1000-executor / 100 TB deployment:
  *
  *  - events: parquet partitioned by `bucket` = pmod(xxhash64(id), nBuckets),
  *    sorted within partitions by (id, rev, pos). This reproduces both
  *    guarantees of the reference schema (CassandraEventStoreSchema.cs:15):
  *    one aggregate's rows are co-located (single bucket) and stored in
  *    clustering order. A per-aggregate read ([[readAggregate]]) reads only
  *    its `bucket=<b>` directory (1/nBuckets of the data), then skips to a
  *    handful of row groups via parquet min/max on the sorted `id`, and
  *    orders the rows in one partition with no range sample — the Spark
  *    analogue of a single-partition Cassandra read.
  *  - reads ([[readEvents]]): the frame is built from the partition
  *    directory names and one data file's schema, with no Spark job, and a
  *    scan lists files only under the partition directories its filters
  *    keep (`PrunedFileIndex`); the directory set is fixed when the frame
  *    is built and each directory's files are listed once, by the first
  *    plan that keeps it.
  *  - index: parquet partitioned by (et, pid) — identical to the reference's
  *    composite partition key ((et, pid)); a replay of one event type over a
  *    day range touches exactly those directories.
  *  - tenancy (KeyspacePerTenantKeyspace.cs:15-21, TablePerBoundedContext
  *    .cs:14-17): a path prefix `{root}/{tenant}_{keyspace}/{table}` — the
  *    same name-mangling, on directories instead of keyspaces.
  *
  * Appends are plain `mode(Append)` parquet jobs: one Spark write job is the
  * atomicity unit, standing in for the reference's single-partition unlogged
  * batch (CassandraEventStore.cs:67-70).
  */
object Storage {

  val DefaultBuckets = 64

  /** Tenant/keyspace -> path, mirroring KeyspacePerTenantKeyspace (48-char
    * cap) + TablePerBoundedContext naming. */
  def tablePath(root: String, tenant: String, keyspace: String, table: String): String =
    s"$root/${keyspaceDir(tenant, keyspace)}/${table.toLowerCase}"

  /** A10 schema bootstrap (CassandraEventStoreSchema.cs:37-100) — idempotent
    * directory creation; parquet is schema-on-write so there is no DDL to
    * run, we just ensure the roots exist. Goes through the Hadoop
    * FileSystem API so `root` may be any supported scheme (hdfs://, s3a://,
    * file:) — java.io.File would silently be local-only. */
  def createStorage(root: String, tenant: String, keyspace: String)(
      implicit spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("events", "index_by_eventtype", "message_counter", "messages").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(tablePath(root, tenant, keyspace, t))
      p.getFileSystem(conf).mkdirs(p): Unit
    }
  }

  /** Tenant/keyspace name guard (the identifier analogue of `wipe`'s path
    * guard): externally supplied names flow into directory paths and — via
    * [[registerCatalog]] — into SQL identifiers and a LOCATION literal, so
    * restrict them to the same safe charset the reference's name mangling
    * produces (KeyspacePerTenantKeyspace.cs sanitizes to word chars). */
  private def requireSafeName(kind: String, name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"$kind '$name' contains characters outside [A-Za-z0-9_]")

  /** Resolved keyspace directory name for (tenant, keyspace). */
  def keyspaceDir(tenant: String, keyspace: String): String = {
    requireSafeName("tenant", tenant)
    requireSafeName("keyspace", keyspace)
    s"${tenant}_$keyspace".take(48)
  }

  /** Session-catalog registration: CREATE DATABASE + external parquet
    * tables over the existing tenant/keyspace paths, so
    * `spark.sql("SELECT ... FROM {tenant}_{ks}.events")` reads exactly the
    * files the path API reads — the metastore face of A10/A12, mirroring
    * the reference's idempotent DDL bootstrap (CREATE ... IF NOT EXISTS,
    * re-runnable: CassandraEventStoreSchema.cs:37-100). Partitioned
    * layouts (events/bucket, index/(et,pid), messages/date) get their
    * partitions recovered on every call, so re-registering after appends
    * surfaces new partitions. Only non-empty directories are registered —
    * parquet is schema-on-write; an empty root has no schema to infer yet.
    * Catalog entries are metadata over the same files: queries through
    * them keep partition pruning and row-group skipping. Returns the
    * database name.
    *
    * `analyze = true` additionally runs ANALYZE TABLE COMPUTE STATISTICS
    * on each registered table, feeding the cost-based optimizer the
    * size/row-count it needs to pick broadcast sides and join order when
    * queries come in through the catalog (path reads fall back to file
    * sizes). One metadata-level scan per table — run it after bulk loads,
    * not per append. */
  def registerCatalog(root: String, tenant: String, keyspace: String,
      analyze: Boolean = false)(
      implicit spark: SparkSession): String = {
    val db = keyspaceDir(tenant, keyspace)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`"): Unit
    val conf = spark.sparkContext.hadoopConfiguration
    Seq("events", "index_by_eventtype", "message_counter", "messages").foreach { t =>
      val path = tablePath(root, tenant, keyspace, t)
      val p = new org.apache.hadoop.fs.Path(path)
      val f = p.getFileSystem(conf)
      lazy val children = f.listStatus(p)
      if (f.exists(p) && children.nonEmpty) {
        // tenant/keyspace are charset-guarded (keyspaceDir), but `root` is a
        // caller path — escape single quotes so the LOCATION literal cannot
        // break or inject into the DDL
        val loc = path.replace("'", "''")
        spark.sql(s"CREATE TABLE IF NOT EXISTS `$db`.`$t` USING parquet LOCATION '$loc'"): Unit
        // hive-style partition directories -> recover them (idempotent);
        // MSCK on an unpartitioned table is an error, so detect first
        if (children.exists(c => c.isDirectory && c.getPath.getName.contains("=")))
          spark.sql(s"MSCK REPAIR TABLE `$db`.`$t`"): Unit
        // appends since a previous registration: drop cached file listings
        spark.sql(s"REFRESH TABLE `$db`.`$t`"): Unit
        if (analyze)
          spark.sql(s"ANALYZE TABLE `$db`.`$t` COMPUTE STATISTICS"): Unit
      }
    }
    db
  }

  /** Session-catalog face of the VERSIONED (MVCC) tier — [[registerCatalog]]
    * covers the plain layouts only, this registers a [[Generations]]-managed
    * table: a persistent VIEW whose body pins the CURRENT manifest, each
    * manifest entry becoming a per-bucket parquet read of the generation
    * that owns it (with the bucket re-attached as a literal), so
    * `SELECT ... FROM {db}.{table}` resolves exactly the files
    * `Generations.readCurrent` resolves — stale bucket directories left
    * behind in superseded generations are invisible, and a
    * `WHERE bucket = n` constant-folds every other branch away (the view
    * keeps directory-level pruning). Metadata-only and idempotent:
    * re-run after a promote to repoint the view at the new manifest (the
    * catalog analogue of the path API re-reading `_manifests`); CatalogSpec
    * drives promote -> re-register -> new manifest visible. Returns the
    * database name. */
  def registerVersioned(root: String, tenant: String, keyspace: String,
      table: String = "events_versioned")(
      implicit spark: SparkSession): String = {
    val db = keyspaceDir(tenant, keyspace)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`"): Unit
    val vroot = tablePath(root, tenant, keyspace, table)
    val m = Generations.readManifest(spark, vroot).getOrElse(
      sys.error(s"registerVersioned: no manifest under $vroot (never promoted)"))
    require(m.entries.nonEmpty, s"registerVersioned: $vroot is empty (all buckets deleted)")
    def ident(p: String) = p.replace("`", "``")
    val branches = m.entries.toSeq.sortBy(_._1).map { case (b, g) =>
      s"SELECT *, CAST($b AS INT) AS bucket FROM parquet.`${ident(s"$vroot/$g/bucket=$b")}`"
    }
    spark.sql(s"CREATE OR REPLACE VIEW `$db`.`$table` AS " +
      branches.mkString(" UNION ALL ")): Unit
    db
  }

  /** A11 `EventStoreDataWiper` (EventStoreDataWiper.cs:31-65): drop a
    * keyspace directory, guarded like the reference — the (possibly
    * externally supplied) keyspace name must belong to the calling tenant,
    * so one tenant cannot wipe another's data. */
  def wipe(root: String, tenant: String, resolvedKeyspace: String)(
      implicit spark: SparkSession): Unit = {
    require(resolvedKeyspace.startsWith(s"${tenant}_"),
      s"refusing to wipe keyspace '$resolvedKeyspace' not owned by tenant '$tenant'")
    val p = new org.apache.hadoop.fs.Path(s"$root/$resolvedKeyspace")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true): Unit
  }

  /** Events rows of one commit: private events at pos 0..n-1, public events
    * at n-1+PublicEventsOffset+k (CassandraEventStore.cs:72-86). Input: one
    * row per commit with array columns `events` / `publicEvents` of binary
    * payloads, plus id, rev, ts. */
  def commitToRows(commits: DataFrame): DataFrame = {
    val n = size(col("events"))
    val priv = commits.select(
      col("id"), col("rev"), col("ts"),
      posexplode(col("events")).as(Seq("pos", "data")))
    val pub = commits
      .filter(size(col("publicEvents")) > 0)
      .select(
        col("id"), col("rev"), col("ts"), n.as("n"),
        posexplode(col("publicEvents")).as(Seq("k", "data")))
      .select(
        col("id"), col("rev"), col("ts"),
        (col("n") - 1 + Model.PublicEventsOffset + col("k")).cast("int").as("pos"),
        col("data"))
    priv.select("id", "rev", "pos", "ts", "data")
      .unionByName(pub.select("id", "rev", "pos", "ts", "data"))
  }

  /** A1/A2 append: bucket by aggregate id, sort within partitions by
    * (id, rev, pos), append. `format` is any columnar batch format Spark
    * ships ("parquet" default, "orc" supported identically — both carry
    * the min/max statistics the pruned reads rely on). Parquet files carry
    * no min/max for the opaque `data` payload, which no read filters on:
    * it only grew every footer (the perfbench `point_load` store is 0.7%
    * smaller without it). */
  def appendEvents(
      rows: DataFrame, path: String,
      nBuckets: Int = DefaultBuckets, format: String = "parquet"): Unit = {
    requireBuckets(nBuckets)
    rows
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(nBuckets)).cast("int"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("id"), col("rev"), col("pos"))
      .write.mode(SaveMode.Append).partitionBy("bucket").format(format)
      .option("parquet.column.statistics.enabled#data", "false")
      .save(path)
  }

  /** A6 index sink: derive + append partitioned by (et, pid). */
  def appendIndex(indexRows: DataFrame, path: String): Unit =
    indexRows
      .repartition(col("et"), col("pid"))
      .sortWithinPartitions(col("ts"))
      .write.mode(SaveMode.Append).partitionBy("et", "pid").parquet(path)

  /** 100ns FileTime ticks per day (the message store's partition grain). */
  val DayTicks = 864000000000L

  /** A8/A9 partition key derivation (CassandraMessageStore.cs:19-29): `date`
    * is the day-truncated FileTime. Shared by the sink and the scan-shaped
    * queries so both sides agree on the partition math. */
  def withMessageDate(messages: DataFrame): DataFrame =
    messages.withColumn("date", TimeFns.ldiv(col("ts"), DayTicks) * DayTicks)

  /** A8 message-store sink (CassandraMessageStore.cs:32-53). */
  def appendMessages(messages: DataFrame, path: String): Unit =
    withMessageDate(messages)
      .write.mode(SaveMode.Append).partitionBy("date").parquet(path)

  /** A5/A7 delete (CassandraEventStore.cs:126-146): batch-engine parity for
    * a point delete is an anti-join of the log against a tombstone set —
    * returns the surviving rows (the caller rewrites the affected
    * partitions; on Delta this would be `DELETE WHERE`). */
  def deleteEvents(events: DataFrame, tombstones: DataFrame): DataFrame =
    events.join(
      broadcast(tombstones.select(
        col("id").as("t_id"), col("rev").as("t_rev"), col("pos").as("t_pos"))),
      col("id") === col("t_id") && col("rev") === col("t_rev") && col("pos") === col("t_pos"),
      "left_anti")

  /** Pruned per-aggregate read against the bucketed layout — the Spark
    * analogue of Cassandra routing a single-partition read by token
    * (CassandraEventStore.cs:362-365) for `LoadAggregateEventsQuery`
    * (:483-490). The bucket for the id is computed with the same xxhash64
    * expression the writer used; the frame is [[readEvents]]'s, narrowed to
    * that `bucket=<b>` directory, and the sorted `id` min/max then skips row
    * groups inside it. The narrowing matters for the relation's size, not
    * for pruning: the single-partition exchange below makes the planner
    * size its input against `spark.sql.maxSinglePartitionBytes` from the
    * relation's statistics, which over the whole table would list every
    * directory (a Spark job past 32 of them) and, past 128 MB, add a
    * shuffle.
    *
    * The rows are ordered by (rev, pos) in ONE partition — one aggregate is
    * small, so the scan keeps its file splits and a single-partition
    * exchange replaces the range-sampled global sort;
    * [[graft.operators.EventStoreOps.reassembleCommits]] downstream then
    * needs no exchange of its own. A miss (the bucket directory is absent:
    * never written, or emptied by [[deleteAndRewrite]]) keeps no directory:
    * an empty frame with the table's schema. */
  def readAggregate(
      spark: SparkSession,
      path: String,
      aggregateId: Array[Byte],
      nBuckets: Int = DefaultBuckets): DataFrame = {
    val bucket = bucketOf(aggregateId, nBuckets)
    PrunedFileIndex.read(spark, path, "parquet", only = Some(s"bucket=$bucket"))
      .filter(col("bucket") === bucket && col("id") === lit(aggregateId))
      .repartition(1)
      .sortWithinPartitions(col("rev"), col("pos"))
  }

  /** Refuses a bucket count below 1 — before anything is written or a
    * stream starts (0 would fail mid-job, a negative count would write
    * `bucket=-k` directories). */
  private[graft] def requireBuckets(nBuckets: Int): Unit =
    require(nBuckets >= 1, s"nBuckets must be at least 1, got $nBuckets")

  /** Bucket routing for an aggregate id, computed driver-side with the same
    * XXH64 kernel the writer's `xxhash64(id)` expression uses (seed 42) —
    * a point read must not launch a Spark job just to pick its directory. */
  def bucketOf(aggregateId: Array[Byte], nBuckets: Int = DefaultBuckets): Int = {
    requireBuckets(nBuckets)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      aggregateId, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      aggregateId.length, 42L)
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  /** A5 end-to-end (CassandraEventStore.cs:126-146): physically remove
    * tombstoned rows from the bucketed layout. The affected buckets are
    * computed driver-side from the tombstone ids (a delete touches few
    * aggregates; the id set is driver-scale), and ONLY those bucket
    * partitions are rewritten — dynamic partition overwrite leaves every
    * other bucket's files untouched (asserted by StorageCounterSpec).
    *
    * Survivors are materialized (localCheckpoint) before the overwrite:
    * Spark refuses to overwrite a path it is still reading from, and the
    * affected slice is 1/nBuckets of the table by construction. This
    * in-place variant is the HDFS-style path; the object-store path —
    * surviving slice to a fresh generation prefix, atomic `_CURRENT`
    * manifest swap — is `Generations.deleteAndPromote`. */
  def deleteAndRewrite(
      spark: SparkSession,
      path: String,
      tombstones: DataFrame,
      nBuckets: Int = DefaultBuckets): Unit = {
    requireBuckets(nBuckets)
    // affected buckets computed distributed (writer's xxhash64 expression);
    // the collect is bounded by nBuckets even when the tombstone frame isn't
    val buckets = tombstones
      .select(pmod(xxhash64(col("id")), lit(nBuckets)).cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (buckets.isEmpty) return
    val survivors = deleteEvents(
        readEvents(spark, path).filter(col("bucket").isin(buckets: _*)),
        tombstones)
      .localCheckpoint(true)
    val survivorBuckets = survivors.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    // per-WRITE dynamic overwrite (not a session-conf toggle) — scoped to
    // this writer, safe under concurrent driver threads (operators.Par)
    survivors
      .repartition(col("bucket"))
      .sortWithinPartitions(col("id"), col("rev"), col("pos"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(path)
    // dynamic overwrite only replaces partitions present in the written
    // data: a bucket whose every row was tombstoned must be dropped by hand
    val conf = spark.sparkContext.hadoopConfiguration
    buckets.filterNot(survivorBuckets).foreach { b =>
      val p = new org.apache.hadoop.fs.Path(s"$path/bucket=$b")
      p.getFileSystem(conf).delete(p, true): Unit
    }
  }

  /** A7 index delete (IndexByEventTypeStore.cs:63-83): anti-join on the
    * full primary key (et, pid, ts, aid, rev, pos). */
  def deleteIndexRecords(index: DataFrame, tombstones: DataFrame): DataFrame = {
    val keys = Seq("et", "pid", "ts", "aid", "rev", "pos")
    val t = tombstones.select(keys.map(k => col(k).as(s"t_$k")): _*)
    index.join(broadcast(t),
      keys.map(k => col(k) === col(s"t_$k")).reduce(_ && _), "left_anti")
  }

  /** A7 end-to-end against the persisted (et, pid)-partitioned layout —
    * the index analogue of [[deleteAndRewrite]] (reference delete path:
    * IndexByEventTypeStore.cs:63-83). The affected (et, pid) partitions are
    * computed from the tombstones (a delete touches few — the collect is
    * partition-scale, not record-scale), ONLY those directories are read
    * (literal partition filters prune the scan) and anti-joined on the full
    * primary key, then rewritten via dynamic partition overwrite; every
    * other partition's files are physically untouched. Idempotent: deleting
    * already-absent records rewrites the same survivors. */
  def deleteIndexAndRewrite(spark: SparkSession, path: String, tombstones: DataFrame): Unit = {
    val parts = tombstones.select(col("et"), col("pid")).distinct().collect()
      .map(r => (r.getAs[String]("et"), r.getAs[Int]("pid"))).toSeq
    if (parts.isEmpty) return
    val cond = parts.map { case (e, p) => col("et") === lit(e) && col("pid") === lit(p) }
      .reduce(_ || _)
    val survivors = deleteIndexRecords(readEvents(spark, path).filter(cond), tombstones)
      .localCheckpoint(true)
    val survivorParts = survivors.select(col("et"), col("pid")).distinct().collect()
      .map(r => (r.getAs[String]("et"), r.getAs[Int]("pid"))).toSet
    // per-WRITE dynamic overwrite (not a session-conf toggle) — scoped to
    // this writer, safe under concurrent driver threads (operators.Par)
    survivors
      .repartition(col("et"), col("pid"))
      .sortWithinPartitions(col("ts"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("et", "pid").parquet(path)
    // dynamic overwrite only replaces partitions present in the written
    // data: a partition whose every record was tombstoned is dropped by
    // hand, and so is an `et=` directory that leaves empty, which every
    // later listing of the index would walk (escapePathName is the
    // writer's own partition-directory encoding)
    val conf = spark.sparkContext.hadoopConfiguration
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    val dropped = parts.filterNot(survivorParts)
    dropped.foreach { case (e, p) =>
      val d = new org.apache.hadoop.fs.Path(s"$path/et=${escapePathName(e)}/pid=$p")
      d.getFileSystem(conf).delete(d, true): Unit
    }
    dropped.map(_._1).distinct.foreach { e =>
      val d = new org.apache.hadoop.fs.Path(s"$path/et=${escapePathName(e)}")
      val fs = d.getFileSystem(conf)
      if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false): Unit
    }
  }

  /** The table at `path` — the events, the (et, pid) index, or an
    * unpartitioned table — in `format` ("parquet" or "orc"), with the
    * schema and rows of `spark.read.format(format).load(path)`, but listing
    * only the partition directories the scan's filters keep: a page, point
    * or index-range read lists its one `bucket=<b>` or `et=/pid=`
    * directories on the driver, the analogue of Cassandra routing a read to
    * one partition by its key (CassandraEventStore.cs:238-276,
    * IndexByEventTypeStore.cs:193, 260-276).
    *
    * Building the frame runs no Spark job: the partition directory names are
    * walked on the driver (not the files inside the leaf directories), the
    * partition schema is inferred from them as Spark infers it, and the data
    * schema is read from the first data file found. Planning a scan lists
    * the kept directories through Spark's own listing, in a parallel job only
    * when it keeps more directories than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (a whole-table
    * scan, as before).
    *
    * Snapshot rule — later than `spark.read`'s, which fixes the file set when
    * the frame is built: the set of partition directories is fixed when the
    * frame is built (a directory created later is not seen), and each
    * directory's files are listed when the first plan over the frame, or
    * over a frame derived from it, keeps it. That listing is kept, so every
    * later plan over those frames sees the same files for that directory and
    * collecting a frame again returns the same rows; but a file appended to
    * a directory no plan has kept yet is seen. An empty root fails with
    * `UNABLE_TO_INFER_SCHEMA` and an absent one with `PATH_NOT_FOUND`, as
    * `spark.read` does. The tables this engine writes have no
    * `_spark_metadata` log (no streaming file sink writes them); unlike
    * `spark.read`, this read would not consult one. */
  def readEvents(spark: SparkSession, path: String, format: String = "parquet"): DataFrame =
    PrunedFileIndex.read(spark, path, format)

  /** Compaction for any hive-partitioned layout this engine writes:
    * rewrite so each partition directory holds ONE large sorted file
    * instead of many per-append small ones (streaming ingest — ingestTo,
    * indexTo, appendMessages per micro-batch — produces a file per batch
    * per partition; scan cost and footer overhead grow with file count).
    * The repartition-on-partition-columns co-locates each directory into
    * one task, so the output is one file per directory, and the partition
    * scheme (with its directory pruning) is preserved. Writes to a new
    * directory — object-store-style immutable swap; the promote step
    * (atomic `_CURRENT` manifest) is `Generations.compactAndPromote`. */
  def compactPartitioned(
      spark: SparkSession, path: String, outPath: String,
      partitionCols: Seq[String], sortCols: Seq[String]): Unit =
    spark.read.parquet(path)
      .repartition(partitionCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.ErrorIfExists).partitionBy(partitionCols: _*).parquet(outPath)

  /** [[compactPartitioned]] for the bucketed events layout. */
  def compact(spark: SparkSession, path: String, outPath: String): Unit =
    compactPartitioned(spark, path, outPath, Seq("bucket"), Seq("id", "rev", "pos"))

  /** [[compactPartitioned]] for the (et, pid) index layout — folds the
    * one-file-per-micro-batch pile a long-running [[graft.streaming.StreamingOps.indexTo]]
    * accumulates. */
  def compactIndex(spark: SparkSession, path: String, outPath: String): Unit =
    compactPartitioned(spark, path, outPath, Seq("et", "pid"), Seq("ts"))

  /** [[compactPartitioned]] for the day-partitioned message layout. */
  def compactMessages(spark: SparkSession, path: String, outPath: String): Unit =
    compactPartitioned(spark, path, outPath, Seq("date"), Seq("ts"))
}
