package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.Row
import graft.functions.TimeFns
import graft.sources.Levels
import graft.sources.Levels.requireBatchLineage

/** Structured Streaming extensions (SURVEY.md §7 step 10 — additive; the
  * reference has no streaming engine, its "replay" is batch streaming).
  *
  * Semantics carried over from the reference:
  *  - the message counter (Counters/MessageCounter.cs) becomes a stateful
  *    streaming aggregation in update mode — same commutative-increment
  *    behavior, exactly-once instead of Cassandra counter-column
  *    at-least-once;
  *  - the replay over-scan padding (+1 day `before`, +2 day pid guard,
  *    IndexByEventTypeStore.cs:181,251-257) becomes the watermark: late
  *    events inside the padding still count, later ones are dropped
  *    explicitly rather than silently.
  *
  * All transforms are DataFrame->DataFrame so they run identically on
  * `readStream` sources and on batch frames in tests.
  */
object StreamingOps {

  /** Tail the events table as a stream (new parquet files under `path`
    * are the append log; at cluster scale this is the landing zone the
    * batch writer Storage.appendEvents feeds). */
  def streamEvents(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Live message counter: counts per event type over the stream.
    * Update-mode stateful aggregation == MessageCounter's `cv = cv + n`. */
  def liveCounters(events: DataFrame, etCol: String = "et"): DataFrame =
    events.groupBy(col(etCol).as("msgid")).agg(count(lit(1)).as("cv"))

  /** Windowed replay counts with the reference's over-scan tolerance:
    * 1-day tumbling windows (the index's pid granularity) per event type,
    * watermarked by `latenessDays` (default = the reference's +2d guard). */
  def dailyTypeCounts(
      events: DataFrame,
      tsCol: String = "ts_t",
      etCol: String = "et",
      latenessDays: Int = 2): DataFrame =
    events
      .withWatermark(tsCol, s"$latenessDays days")
      .groupBy(window(col(tsCol), "1 day"), col(etCol).as("et"))
      .agg(count(lit(1)).as("n"))
      .select(
        TimeFns.pid(col("window.start")).as("pid"),
        col("et"), col("n"))

  /** Continuous index maintenance: the A6 index derivation as a streaming
    * projection — appends (et, pid, aid, rev, pos, ts) rows as events
    * arrive (the reference's IIndexStore write path, made incremental). */
  def indexStream(events: DataFrame): DataFrame =
    graft.operators.IndexOps.buildIndex(events)

  /** The one sink wiring every `foreachBatch` stream below shares: Append
    * output, `checkpoint` as the checkpoint location, `body` per
    * micro-batch. */
  private def sink(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint).foreachBatch(body)

  /** Write a streaming frame to a memory sink for inspection/tests. */
  def toMemorySink(df: DataFrame, name: String, mode: OutputMode): DataStreamWriter[Row] =
    df.writeStream.format("memory").queryName(name).outputMode(mode)

  /** Streaming ingest into the PLAIN bucketed event-store layout: each
    * micro-batch appends through Storage.appendEvents, so the streaming
    * path lands data in exactly the layout batch readers expect (one
    * micro-batch = one atomic append, the analogue of the reference's
    * per-commit unlogged batch).
    *
    * Tiering: this is the high-throughput landing tier — append-only, no
    * manifest, and therefore SINGLE-writer with respect to mutation: it
    * must not run concurrently with `Storage.deleteAndRewrite` (or any
    * in-place rewrite) on the same path. A stream that must compose with
    * concurrent deletes/compactions goes through [[ingestToVersioned]],
    * whose per-batch commit participates in the Generations manifest CAS. */
  def ingestTo(events: DataFrame, path: String, checkpoint: String,
      nBuckets: Int = graft.sources.Storage.DefaultBuckets): DataStreamWriter[Row] = {
    graft.sources.Storage.requireBuckets(nBuckets)
    sink(events, checkpoint)((batch, _) =>
      graft.sources.Storage.appendEvents(batch, path, nBuckets))
  }

  /** Streaming ingest into the VERSIONED (MVCC) layout: each micro-batch
    * is one `Generations.appendAndPromote` under `withConflictRetry`, so a
    * live stream and a concurrent `deleteAndPromote`/`compactAndPromote`
    * on the same table both land — the stream's batch loses the manifest
    * CAS, re-reads state, and re-commits (StreamingGenerationsSpec races
    * the two). Crash atomicity: a batch that died between writing its
    * generation and promoting leaves only an unreferenced orphan (vacuum
    * grace reclaims it); the replayed batch claims a fresh generation.
    * Delivery is at-least-once across checkpoint-replayed batches (the
    * foreachBatch contract — same non-idempotent-retry caveat as the
    * reference's swallowed write timeouts, CassandraEventStore.cs:90-93);
    * at-least-once sources compose [[dedupedEvents]] upstream for an
    * exactly-once landing. Size triggers so a micro-batch is a meaningful
    * fraction of its touched buckets (appendAndPromote's read-merge-write
    * note). */
  def ingestToVersioned(events: DataFrame, root: String, checkpoint: String,
      nBuckets: Int = graft.sources.Storage.DefaultBuckets): DataStreamWriter[Row] = {
    graft.sources.Storage.requireBuckets(nBuckets)
    sink(events, checkpoint) { (batch, _) =>
      graft.sources.Generations.withConflictRetry() {
        graft.sources.Generations.appendAndPromote(
          batch.sparkSession, root, batch, nBuckets)
      }: Unit
    }
  }

  /** Continuous index MAINTENANCE (E5's streaming analogue): each
    * micro-batch of canonical event rows is projected through the A6
    * derivation (indexStream/IndexOps.buildIndex) and appended into the
    * (et, pid)-partitioned index layout — the streaming twin of ingestTo,
    * so the index stays current as events land (the reference's client
    * code maintains its index table on every AppendAsync;
    * IndexByEventTypeStore.cs:44-61). Gated by q_stream_index: an
    * availability-now run's readback equals the batch derivation oracle. */
  def indexTo(events: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    sink(events, checkpoint)((batch, _) =>
      graft.sources.Storage.appendIndex(indexStream(batch), path))

  /** Streaming index DELETE maintenance — A7's streaming twin (the
    * reference deletes index records alongside event deletes,
    * IndexByEventTypeStore.cs:63-83; here a tombstone stream keeps the
    * persisted index current as deletes arrive). Each micro-batch of
    * tombstones (full index PK: et, pid, ts, aid, rev, pos) anti-join
    * rewrites ONLY the affected (et, pid) partitions through
    * [[graft.sources.Storage.deleteIndexAndRewrite]]; untouched partitions
    * keep their files. Single-mutator like [[ingestTo]] (must not run
    * concurrently with another writer of the same index path), and
    * at-least-once replay is harmless: re-deleting absent records rewrites
    * the same survivors (idempotent). */
  def indexDeleteStream(tombstones: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    sink(tombstones, checkpoint)((batch, _) =>
      graft.sources.Storage.deleteIndexAndRewrite(batch.sparkSession, path, batch))

  /** Streaming forget feed for the LSH MinHash index — the compliance
    * queue shape ([[indexDeleteStream]]'s reasoning, on the §G tier):
    * tombstoned DOCUMENTS (id + text — the erasure request carries the
    * payload it erases, which is what lets the affected (band, bucket)
    * directories derive from the docs' OWN signatures) arrive as a
    * stream, and each micro-batch runs
    * [[graft.operators.ForgetOps.forgetFromLshIndex]]: a partition-pruned
    * rewrite of just those directories. Single-mutator like every
    * in-place maintenance op; at-least-once replay is harmless —
    * re-forgetting absent ids rewrites the same survivors (idempotent,
    * ForgetSpec's rerun law), so a crash anywhere converges on restart.
    * After the stream drains, the index equals a batch
    * [[graft.operators.ForgetOps.forgetFromLshIndex]] of the union of all
    * tombstones — the q_stream_forget gate. */
  def lshForgetStream(tombstones: DataFrame, indexPath: String,
      checkpoint: String, idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, nHashes: Int = 16, bands: Int = 4,
      nBuckets: Int = 64): DataStreamWriter[Row] =
    sink(tombstones, checkpoint) { (batch, _) =>
      graft.operators.ForgetOps.forgetFromLshIndex(batch.sparkSession,
        indexPath, batch, idCol, textCol, shingleK, nHashes, bands, nBuckets)
    }

  /** The COMPOSED compliance queue — [[lshForgetStream]] generalized to
    * every payload-deriving face: ONE tombstone stream (documents with
    * the payloads being erased, or vectors for the cell face) drains into
    * each artifact the caller wires a path for, per micro-batch. This is
    * the production shape a GDPR pipeline runs: erasure requests arrive
    * once, and every derived artifact forgets them without a second
    * queue.
    *
    * Faces are the batch faces verbatim (one truth): LSH / pHash /
    * postings are anti-join partition rewrites — idempotent under
    * at-least-once replay by construction; the SHINGLE face's negative
    * delta is made replay-idempotent by tagging it with
    * `passId = batchId` ([[graft.operators.ForgetOps
    * .forgetFromShingleIndex]]'s id-set + passId src derivation): a
    * checkpoint replay of the same batch re-lands the SAME (shingle, src)
    * rows (collapsed by the read-side dedup), while two different
    * batches — even with overlapping ids — land under distinct src tags.
    * The cell faces (IVF/SQ8 via `sq8Path`, PQ via `pqPath`) rewrite the
    * tombstoned vectors' home cells under the frozen geometry; the
    * content-addressed chunk store (`chunkStorePath`) drops the ids'
    * recipes and GCs unreferenced chunks — ids-only by nature
    * ([[graft.operators.MultimodalOps.deleteFromChunkStore]]); the
    * persisted k-NN graph store (`knnStorePath`, with `knnK`/`knnNProbe`
    * and the frozen `centroids`) and the curated landing (`curatedPath`,
    * with its chunk geometry) run their composed faces per batch — both
    * ids-only by nature, both idempotent under replay.
    *
    * After the stream drains, every wired artifact equals a batch forget
    * of the union of all tombstones (the q_stream_forget_all gate).
    * Single-mutator per artifact, like every in-place maintenance op —
    * quiesce the artifact's own maintenance stream while its face
    * drains. */
  def forgetStream(tombstones: DataFrame, checkpoint: String,
      lshPath: Option[String] = None,
      phashPath: Option[String] = None,
      postingsPath: Option[String] = None,
      shinglePath: Option[String] = None,
      sq8Path: Option[String] = None,
      pqPath: Option[String] = None,
      chunkStorePath: Option[String] = None,
      knnStorePath: Option[String] = None,
      curatedPath: Option[String] = None,
      knnK: Int = 5, knnNProbe: Int = 2,
      curatedChunkSize: Int = 8, curatedNPb: Int = 64,
      centroids: Seq[(Int, Seq[Double])] = Seq.empty,
      codebooks: Seq[Seq[(Int, Seq[Double])]] = Seq.empty,
      idCol: String = "doc_id", textCol: String = "text",
      vecCol: String = "embedding",
      shingleK: Int = 3, nHashes: Int = 16, bands: Int = 4,
      nBuckets: Int = 64, nPt: Int = 16,
      spanK: Int = 3, nPb: Int = 16, hashed: Boolean = true,
      fps: Int = 4, frameK: Int = 8,
      phashBuckets: Int = 64): DataStreamWriter[Row] =
    sink(tombstones, checkpoint) { (batch, batchId) =>
      import graft.operators.{ForgetOps, MultimodalOps}
      val s = batch.sparkSession
      // up to six faces re-read the tombstones — pin once per batch
      val b = batch.localCheckpoint(true)
      // the wired faces touch DISJOINT artifact roots and share only
      // the pinned tombstones — pool them per micro-batch (optimization
      // guide §2.6, operators.Par): each face is a chain of small
      // driver actions (sign, collect keys, rewrite), so run serially
      // most cores idle through every chain's scheduling tail. The
      // single-maintainer contract is unchanged (each artifact still
      // has exactly ONE mutator — this batch), and no face toggles
      // session conf (rewrites use the per-write overwrite option).
      val faces = Seq[Option[() => Unit]](
        lshPath.map(p => () => ForgetOps.forgetFromLshIndex(s, p, b,
          idCol, textCol, shingleK, nHashes, bands, nBuckets)),
        phashPath.map(p => () => ForgetOps.forgetFromPhashIndex(s, p,
          MultimodalOps.mediaFromDocuments(b), fps, frameK, phashBuckets)),
        postingsPath.map(p => () => ForgetOps.forgetFromPostingsIndex(s, p, b,
          nPt, idCol, textCol)),
        shinglePath.map(p => () => ForgetOps.forgetFromShingleIndex(s, p, b,
          spanK, nPb, hashed, idCol, textCol, passId = batchId)),
        sq8Path.map(p => () => ForgetOps.forgetFromCellIndex(s, p, b,
          centroids, idCol, vecCol)),
        pqPath.map(p => () => ForgetOps.forgetFromPqIndex(s, p, b,
          centroids, codebooks, idCol, vecCol)),
        chunkStorePath.map(p => () => ForgetOps.forgetFromChunkStore(s, p,
          b.select(col(idCol).as("media_id")))),
        knnStorePath.map(p => () => ForgetOps.forgetFromKnnGraphStore(s, p, b,
          knnK, knnNProbe, centroids, idCol)),
        curatedPath.map(p => () => ForgetOps.forgetFromCuratedLanding(s, p, b,
          curatedChunkSize, curatedNPb, idCol))
      ).flatten
      graft.operators.Par.run(s, parallelism = 4)(faces: _*)
      ()
    }

  /** Streaming CURATED landing: each micro-batch of documents (doc_id,
    * text) is paragraph-deduped against the ACCUMULATED corpus — an
    * 8-byte paragraph-key index maintained under `outDir/_para_index` —
    * and against itself, then the reconstructed documents land under
    * `outDir/docs/__batch=<id>` and the batch's newly ADMITTED paragraph
    * keys land under `outDir/_para_index/__batch=<id>/pb=<p>`. Later
    * batches (and later runs over the same outDir) never re-admit a
    * paragraph: the streaming twin of
    * [[graft.operators.DedupOps.paragraphDedupAgainst]], with the corpus
    * side read from the index instead of re-chunking history — per batch
    * the corpus contributes ONE key column, O(distinct paragraphs), not
    * O(corpus text).
    *
    * Layout, chosen for the 100 TB corpus (billions of keys):
    *  - the index is key-bucketed: `pb = pmod(xxhash64(para), nPb)` is a
    *    hive partition directory, and each batch first collects its own
    *    touched pb set (bounded by nPb — driver-safe) and reads ONLY those
    *    directories (static partition pruning, the `isin` filter below) —
    *    a small batch against a huge corpus scans the matching slice of
    *    the index, never the whole key set;
    *  - deltas are per-batch directories (`__batch=<id>`), so the landing
    *    is IDEMPOTENT: both writes go to batch-id-derived paths in
    *    Overwrite mode, and the corpus read takes only `__batch < id`, so
    *    a checkpoint-replayed batch sees the exact corpus the crashed
    *    attempt saw, recomputes the same admissions, and overwrites its
    *    own partial output — no content loss, no duplicate doc rows,
    *    whatever the crash point (exactly-once landing on top of
    *    foreachBatch's at-least-once replay);
    *  - one file per touched pb per batch; fold the per-batch deltas with
    *    [[compactParaIndex]] when they accumulate.
    *
    * Readers of `outDir/docs` see the partition column `__batch` alongside
    * (doc_id, clean_text, n_kept, n_dropped); project it away. The docs
    * side accumulates one directory per batch too; a checkpoint only ever
    * replays the NEWEST batch, so directories below the maximum are
    * immutable — fold them with [[compactCuratedDocs]] (the key index has
    * [[compactParaIndex]]). Null text is treated as empty (the doc row
    * still lands, per the paragraphDedup contract). */
  def curatedIngest(docs: DataFrame, outDir: String, checkpoint: String,
      chunkSize: Int = 8, nPb: Int = 64): DataStreamWriter[Row] =
    sink(docs, checkpoint)(curatedBatch(_, _, outDir, chunkSize, nPb))

  /** One [[curatedIngest]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). Deterministic given (batch contents,
    * batchId, prior-batch index state) — the idempotence contract above
    * rests on that. */
  private[graft] def curatedBatch(batch: DataFrame, batchId: Long, outDir: String,
      chunkSize: Int, nPb: Int): Unit = {
    val s = batch.sparkSession
    val idx = s"$outDir/_para_index"
    val (f, idxPath) = Levels.fs(s, idx)
    requireBatchLineage(f, idxPath, batchId, "curatedIngest", outDir)
    // docs/ is written FIRST each batch, so a crash between the two
    // writes leaves it one batch ahead of the index — guard it too
    // (every root a batch writes gets its own guard; BatchLineageSpec
    // enforces the rule mechanically)
    requireBatchLineage(f, new org.apache.hadoop.fs.Path(s"$outDir/docs"),
      batchId, "curatedIngest", s"$outDir/docs")
    // the landing's key geometry, pinned like every persisted index: a
    // restart (or a forget pass) with drifted chunkSize/nPb would probe
    // the wrong pb directories / mis-key paragraphs silently
    Levels.pin(s, idx, Seq("chunkSize" -> chunkSize.toLong, "nPb" -> nPb.toLong),
      "probe")(graft.operators.ParamMeta.refusal(idx, "curated-landing parameters",
      "a fresh curatedIngest outDir"))
    // a compactParaIndex crash can leave the folded keys visible only in
    // staging/retired leftovers (the hide window) — admissions computed
    // against the visible levels alone would re-admit known paragraphs
    // DURABLY, so heal the layout before the corpus read
    Levels.healFoldLeftovers(s, idx, paraIndexFold(s))
    val paras = graft.operators.TextOps.chunkTokens(
        batch.withColumn("text", coalesce(col("text"), lit(""))),
        chunkSize, chunkSize)
      .localCheckpoint(true)
    // the batch's touched key buckets, bounded by nPb — prunes the corpus
    // read to the matching pb directories
    val touched = paras
      .select(pmod(xxhash64(col("chunk_text")), lit(nPb.toLong)).cast("int").as("pb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val corpusKeys =
      if (f.exists(idxPath))
        // explicit schema (incl. the partition columns, pinning their
        // types): skips footer inference, and tolerates an index whose
        // every batch admitted nothing
        s.read.schema("__k LONG, pb INT, __batch LONG")
          .option("basePath", idx).parquet(idx)
          .filter(col("__batch") < batchId && col("pb").isin(touched: _*))
          .select("__k")
      else s.emptyDataFrame.withColumn("__k", lit(null).cast("long"))
    // one flagged frame, two consumers (the landing and the index delta) —
    // pin it so the window+join runs once per batch
    val flagged = graft.operators.DedupOps.flagAgainstKeys(
        paras, corpusKeys, "doc_id", "chunk_idx", "chunk_text", hashed = true)
      .localCheckpoint(true)
    graft.operators.DedupOps
      .reassembleKept(flagged, "doc_id", "chunk_idx", "chunk_text", " ")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/docs/__batch=$batchId")
    // the delta is a handful of 8-byte keys — one file per touched pb, not
    // one per shuffle partition
    flagged.filter(col("__kept"))
      .select(col("__key").as("__k"),
        pmod(col("__key"), lit(nPb.toLong)).cast("int").as("pb"))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("pb").parquet(s"$idx/__batch=$batchId")
  }

  /** Fold [[curatedIngest]]'s one-directory-per-batch index deltas into a
    * single base (`__batch=-1`, one file per pb directory) so the per-batch
    * corpus read stays O(touched pb directories) instead of growing a file
    * per historical batch — the leveled fold (README, "Leveled artifact
    * layout": crash order, single maintainer, newest-delta protection).
    * The fold's overlap window duplicates keys, which the union-window
    * flag pass tolerates by construction (corpus presence is a partition
    * max, never a join — no row multiplication, no re-admission). The
    * protected newest delta matters here: a replayed batch must still
    * find its own keys under its own level, where the corpus read's
    * `__batch < id` filter excludes them — folded into the base they
    * would read as prior corpus and the replay would land empty text. */
  def compactParaIndex(spark: SparkSession, outDir: String): Unit =
    Levels.fold(spark, s"$outDir/_para_index", paraIndexFold(spark))

  private def paraIndexFold(spark: SparkSession) =
    Levels.dedupOn(spark, "__k LONG, pb INT", Seq("__k", "pb"), Seq("pb"))

  /** Fold [[curatedIngest]]'s one-directory-per-batch DOCS deltas into a
    * `__batch=-1` base — the docs-side twin of [[compactParaIndex]], same
    * staged-rename fold, same single-maintainer contract, same
    * newest-delta protection (the newest batch may checkpoint-replay and
    * must keep overwriting its OWN `docs/__batch=<id>` directory; folding
    * it would leave its folded rows in the base AND land the replay's
    * rows beside them — duplicate documents).
    *
    * Doc rows are deduped by doc_id during the fold: the curatedIngest
    * contract has each doc_id land in exactly ONE batch with deterministic
    * content, so a duplicate (the overlap window of a crashed prior fold —
    * base installed, folded delta not yet dropped) carries identical
    * columns and collapsing on the key is lossless. Unlike the key index
    * (whose duplicates the flag pass absorbs), duplicated doc rows ARE
    * visible to readers inside that crash window; rerunning this operator
    * converges the directory. */
  def compactCuratedDocs(spark: SparkSession, outDir: String): Unit =
    Levels.fold(spark, s"$outDir/docs", Levels.dedupOn(spark,
      "doc_id LONG, clean_text STRING, n_kept LONG, n_dropped LONG", Seq("doc_id")))

  /** Streaming ANN-index maintenance: each micro-batch of embeddings is
    * assigned to its nearest FROZEN centroid (a shuffle-free codegen
    * projection — [[graft.operators.SimilarityOps.assignCells]]; the k·d
    * centroids are driver state, exactly like the batch IVF path) and
    * landed in the cell-partitioned IVF layout under a batch-id-derived
    * directory: `path/__batch=<id>/cell=<c>`. Probes
    * ([[graft.operators.SimilarityOps.ivfTopKIndexed]]) read the same root
    * unchanged — partition discovery picks up (__batch, cell) and the
    * probe-cell filter still prunes to the matching `cell=` directories of
    * every batch level.
    *
    * Idempotent the [[curatedIngest]] way: the per-batch Overwrite to its
    * own directory makes checkpoint replay rewrite rather than duplicate,
    * at every crash point. Bootstrap an existing corpus with
    * [[ivfIndexBase]] (lands at `__batch=-1`), fold accumulated deltas
    * with [[compactIvfIndex]]. Centroids are FROZEN for the index's
    * lifetime — retraining means a rebuild, the standard IVF contract
    * (a drifted cell assignment would silently miss probes).
    *
    * vec ids must be unique across the stream's lifetime (an at-least-once
    * source composes [[dedupedEvents]]-style upstream dedup); duplicate
    * ids across batches would surface as duplicate top-k rows. */
  def ivfIndexStream(embeddings: DataFrame, centroids: Seq[(Int, Seq[Double])],
      path: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataStreamWriter[Row] =
    sink(embeddings, checkpoint)(ivfBatch(_, _, centroids, path, idCol, vecCol))

  /** One [[ivfIndexStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def ivfBatch(batch: DataFrame, batchId: Long,
      centroids: Seq[(Int, Seq[Double])], path: String,
      idCol: String, vecCol: String): Unit = {
    val (f, p) = Levels.fs(batch.sparkSession, path)
    requireBatchLineage(f, p, batchId, "ivfIndexStream", path)
    writeIvfCells(batch, centroids, s"$path/__batch=$batchId", idCol, vecCol)
  }

  /** Bootstrap the versioned IVF layout from an existing corpus: the
    * batch assignment lands at `__batch=-1` (the base), after which
    * [[ivfIndexStream]] appends deltas above it. */
  def ivfIndexBase(embeddings: DataFrame, centroids: Seq[(Int, Seq[Double])],
      path: String, idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    writeIvfCells(embeddings, centroids, Levels.base(path), idCol, vecCol)

  private def writeIvfCells(embeddings: DataFrame, centroids: Seq[(Int, Seq[Double])],
      dir: String, idCol: String, vecCol: String): Unit = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val vecs = embeddings.select(col(idCol).cast("long").as("id"),
      graft.functions.VectorFns.toDouble(col(vecCol)).as("v"))
    // repartition on the partition column first: one file per cell per
    // batch, not one per (task × cell). A skewed cell serializes into one
    // writer — at very large batch sizes salt the repartition.
    graft.operators.SimilarityOps.assignCells(vecs, centroids)
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(dir)
  }

  /** Fold [[ivfIndexStream]]'s per-batch deltas into the `__batch=-1`
    * base — the leveled fold (README, "Leveled artifact layout"). Dedup on the vec id
    * is lossless for the same reason as the docs fold: each id lands in
    * exactly one batch with deterministic content. */
  def compactIvfIndex(spark: SparkSession, path: String): Unit =
    Levels.fold(spark, path, ivfFold(spark))

  private def ivfFold(spark: SparkSession) =
    Levels.dedupOn(spark, "id LONG, v ARRAY<DOUBLE>, cell INT", Seq("id"), Seq("cell"))

  /** Streaming k-NN GRAPH maintenance — the edge-set twin of
    * [[ivfIndexStream]]: each micro-batch of new embeddings folds into
    * the persisted graph with DELTA-proportional work
    * ([[graft.operators.SimilarityOps.knnGraphIncremental]]'s shape):
    * the batch lands in the versioned cell-partitioned corpus
    * (`path/corpus/__batch=<id>/cell=<c>` — readable as an IVF index),
    * new queries score against the whole corpus through the cell
    * equi-join, OLD queries score against the BATCH only, and the edge
    * delta — complete top-k row sets for every new or affected query —
    * lands at `path/edges/__batch=<id>`. Readers resolve LATEST-BATCH-
    * WINS per query ([[readKnnGraph]]), so an old query's rows are
    * superseded, not duplicated. The merge identity (top-k(A∪B) =
    * top-k(top-k(A)∪B)) makes every resolved state EXACTLY the batch
    * [[graft.operators.SimilarityOps.knnGraph]] over the vectors landed
    * so far, at any fixed nProbe — KnnStreamSpec pins the multi-batch
    * equality, q_stream_knn pins the probe-all == brute-force oracle row.
    *
    * Crash/replay: both writes are per-batch Overwrites to batch-derived
    * directories, and every state READ filters `__batch < batchId`
    * (directory pruning), so a replayed batch never sees its own crashed
    * half-write — the corpus delta lands before the edge delta, so a
    * mid-crash reader sees at worst a corpus superset. Centroids are
    * FROZEN driver state (the [[kmeansStream]] seed contract); vec ids
    * must be unique across the stream's lifetime. */
  def knnGraphStream(embeddings: DataFrame, centroids: Seq[(Int, Seq[Double])],
      k: Int, nProbe: Int, path: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataStreamWriter[Row] =
    sink(embeddings, checkpoint)(knnGraphBatch(_, _, centroids, k, nProbe, path, idCol, vecCol))

  /** One [[knnGraphStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def knnGraphBatch(batch: DataFrame, batchId: Long,
      centroids: Seq[(Int, Seq[Double])], k: Int, nProbe: Int, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = batch.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val corpusDir = s"$path/corpus"
    val edgesDir = s"$path/edges"
    val (f, _) = Levels.fs(spark, path)
    // one guard per root the batch writes (corpus/ lands first, edges/
    // second — guarding only one would leave the other's crash orphan
    // overwritable by a foreign checkpoint)
    Seq(corpusDir, edgesDir).foreach { r =>
      requireBatchLineage(f, new org.apache.hadoop.fs.Path(r), batchId,
        "knnGraphStream", r)
    }
    val vecs = batch.select(col(idCol).cast("long").as("id"),
      graft.functions.VectorFns.toDouble(col(vecCol)).as("v"))
    // batch-sized, read four times below (probe side, corpus side, both
    // writes) — pin once
    val assignedBatch = graft.operators.SimilarityOps.assignCells(vecs, centroids)
      .localCheckpoint(true)
    val oldCorpus =
      if (f.exists(new org.apache.hadoop.fs.Path(corpusDir)))
        spark.read.option("basePath", corpusDir).parquet(corpusDir)
          .filter(col("__batch") < batchId) // a crashed attempt's own delta must not leak into "old"
          .select(col("id"), col("v"), col("cell"))
      else assignedBatch.select(col("id"), col("v"), col("cell")).limit(0)
    val currentEdges =
      if (f.exists(new org.apache.hadoop.fs.Path(edgesDir)))
        resolveKnnEdges(spark.read.option("basePath", edgesDir).parquet(edgesDir)
          .filter(col("__batch") < batchId))
      else
        assignedBatch.select(col("id").as("vec_id"), col("id").as("neighbor_id"),
          lit(0.0).as("sim"), lit(0).as("rank")).limit(0)
    // qid-spread the probe sides (the knnGraph single-input-partition
    // lesson): the old-corpus probe frame is corpus-sized and its read
    // partitioning follows file count, so without this the whole
    // old×batch candidate fan-out can land in one task
    val shuffleParts = spark.sessionState.conf.numShufflePartitions
    def probesOf(df: DataFrame) = df.select(col("id").as("qid"), col("v").as("qv"),
      explode(graft.operators.SimilarityOps.topCellsExpr(col("v"), centroids, nProbe))
        .as("cell"))
      .repartition(shuffleParts, col("qid"))
    def scored(probes: DataFrame, corpus: DataFrame) = probes
      .join(corpus.select(col("cell"), col("id"), col("v")), Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id"), graft.functions.NumFns
        .floorAt(graft.plans.GraftFunctions.cosine(col("qv"), col("v")), 4).as("sim"))
    val fullCorpus = oldCorpus.unionByName(assignedBatch.select("id", "v", "cell"))
    val newQ = scored(probesOf(vecs), fullCorpus)
    val oldCand = scored(probesOf(oldCorpus.select(col("id"), col("v"))), assignedBatch)
    val carried = currentEdges
      .join(oldCand.select(col("qid")).distinct()
        .withColumnRenamed("qid", "vec_id"), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("qid"), col("neighbor_id").as("id"), col("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    val delta = newQ.unionByName(oldCand).unionByName(carried)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("id").as("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
    assignedBatch.repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(s"$corpusDir/__batch=$batchId")
    delta.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$edgesDir/__batch=$batchId")
  }

  /** Latest-batch-wins resolution over versioned edge snapshots: a query
    * whose top-k was rewritten in a later batch keeps only the rewrite
    * (each batch writes COMPLETE per-query row sets, so the winning
    * batch's rows are a consistent graph row-set for that query). */
  private def resolveKnnEdges(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id"))
    edges.withColumn("__mb", max(col("__batch")).over(w))
      .filter(col("__batch") === col("__mb"))
      .select(col("vec_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** The resolved streamed graph — bit-identical to the batch
    * [[graft.operators.SimilarityOps.knnGraph]] over every vector landed
    * so far (KnnStreamSpec). */
  def readKnnGraph(spark: SparkSession, path: String): DataFrame =
    resolveKnnEdges(
      spark.read.option("basePath", s"$path/edges").parquet(s"$path/edges"))

  /** Fold committed edge deltas into the `__batch=-1` base with
    * LATEST-WINS resolution ([[Levels.latestWinsOn]] on the query
    * id — `dropDuplicates` would be WRONG here: a query's superseded
    * snapshots are not duplicate rows). The corpus side folds with
    * [[compactIvfIndex]]'s machinery (ids are write-once there). */
  def compactKnnGraph(spark: SparkSession, path: String): Unit = {
    Levels.fold(spark, s"$path/corpus", ivfFold(spark))
    Levels.fold(spark, s"$path/edges", Levels.latestWinsOn(spark,
      "vec_id LONG, neighbor_id LONG, sim DOUBLE, rank INT", Seq("vec_id")))
  }

  /** Streaming IVF-PQ index maintenance — the compressed-codes twin of
    * [[ivfIndexStream]]: each micro-batch is coarse-assigned AND
    * PQ-encoded (both map-only codegen projections against frozen driver
    * state — k·d centroids, c·d codebook doubles) and lands codes-only
    * rows at `path/__batch=<id>/cell=<c>`. Probes
    * ([[graft.operators.SimilarityOps.pqTopKIndexed]]) read the root
    * unchanged — partition discovery picks up (__batch, cell) and the
    * probe-cell filter prunes to matching `cell=` directories at every
    * batch level; scanned bytes stay m ints per row, the raw vectors are
    * never stored at any level.
    *
    * Idempotent via per-batch Overwrite (codes are deterministic given
    * batch contents + frozen parameters); the `_meta.json` sidecar pins
    * the GEOMETRY (k coarse cells, m subspaces, c codewords, subDim) and
    * is written before the first landing, so a restart with drifted
    * centroids/codebooks of a different shape fails loudly. Same-shape
    * different-VALUES drift is undetectable from geometry alone —
    * centroid/codebook values are the caller's versioned model state,
    * exactly like [[kmeansStream]]'s seed contract. Bootstrap with
    * [[pqIndexBase]] (`__batch=-1`), fold committed deltas with
    * [[compactPqIndex]]. vec ids must be unique across the stream's
    * lifetime ([[ivfIndexStream]]'s contract). */
  def pqIndexStream(embeddings: DataFrame, centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[Seq[(Int, Seq[Double])]], path: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataStreamWriter[Row] =
    sink(embeddings, checkpoint)(pqBatch(_, _, centroids, codebooks, path, idCol, vecCol))

  /** One [[pqIndexStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def pqBatch(batch: DataFrame, batchId: Long,
      centroids: Seq[(Int, Seq[Double])], codebooks: Seq[Seq[(Int, Seq[Double])]],
      path: String, idCol: String, vecCol: String): Unit = {
    val s = batch.sparkSession
    val (f, p) = Levels.fs(s, path)
    requireBatchLineage(f, p, batchId, "pqIndexStream", path)
    graft.operators.SimilarityOps.assertPqMeta(s, path, centroids, codebooks, "pqIndexStream")
    // sidecar BEFORE the first landing (the lshBatch crash-window rule)
    if (!f.exists(new org.apache.hadoop.fs.Path(p, "_meta.json")))
      graft.operators.SimilarityOps.writePqMeta(s, path, centroids, codebooks)
    writePqCells(batch, centroids, codebooks, s"$path/__batch=$batchId", idCol, vecCol)
  }

  /** Bootstrap the versioned codes-only layout from an existing corpus
    * (`__batch=-1`), recording the geometry sidecar. */
  def pqIndexBase(embeddings: DataFrame, centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[Seq[(Int, Seq[Double])]], path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val dir = Levels.newBase(embeddings.sparkSession, path, "pqIndexBase")
    graft.operators.SimilarityOps.writePqMeta(
      embeddings.sparkSession, path, centroids, codebooks)
    writePqCells(embeddings, centroids, codebooks, dir, idCol, vecCol)
  }

  private def writePqCells(embeddings: DataFrame, centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[Seq[(Int, Seq[Double])]], dir: String,
      idCol: String, vecCol: String): Unit = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val vecs = embeddings.select(col(idCol).cast("long").as("id"),
      graft.functions.VectorFns.toDouble(col(vecCol)).as("v"))
    graft.operators.SimilarityOps
      .pqEncode(graft.operators.SimilarityOps.assignCells(vecs, centroids), codebooks)
      .select(col("id"), col("codes"), col("cell"))
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(dir)
  }

  /** Fold [[pqIndexStream]]'s per-batch deltas into the `__batch=-1`
    * base — the leveled fold (README, "Leveled artifact layout"). Dedup on the vec id is
    * lossless ([[compactIvfIndex]]'s argument: each id lands in exactly
    * one batch with deterministic codes). */
  def compactPqIndex(spark: SparkSession, path: String): Unit =
    Levels.fold(spark, path, codesFold(spark))

  private def codesFold(spark: SparkSession) =
    Levels.dedupOn(spark, "id LONG, codes ARRAY<INT>, cell INT", Seq("id"), Seq("cell"))

  /** Streaming IVF-SQ8 index maintenance — [[pqIndexStream]] one rung
    * down the compression ladder: each micro-batch lands codes-only
    * (d int8s per row) cell-partitioned deltas at `__batch=<id>`;
    * the same idempotency (batch-id Overwrite), lineage refusal, and
    * geometry-sidecar contract ((k, dim) here — a drifted centroid set
    * would silently mis-route probes, so it fails loudly). */
  def sq8IndexStream(embeddings: DataFrame, centroids: Seq[(Int, Seq[Double])],
      path: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataStreamWriter[Row] =
    sink(embeddings, checkpoint)(sq8Batch(_, _, centroids, path, idCol, vecCol))

  /** One [[sq8IndexStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def sq8Batch(batch: DataFrame, batchId: Long,
      centroids: Seq[(Int, Seq[Double])], path: String,
      idCol: String, vecCol: String): Unit = {
    val s = batch.sparkSession
    val (f, p) = Levels.fs(s, path)
    requireBatchLineage(f, p, batchId, "sq8IndexStream", path)
    graft.operators.SimilarityOps.assertSq8Meta(s, path, centroids, "sq8IndexStream")
    // sidecar BEFORE the first landing (the lshBatch crash-window rule)
    if (!f.exists(new org.apache.hadoop.fs.Path(p, "_meta.json")))
      graft.operators.SimilarityOps.writeSq8Meta(s, path, centroids,
        centroids.headOption.map(_._2.size).getOrElse(0))
    writeSq8Cells(batch, centroids, s"$path/__batch=$batchId", idCol, vecCol)
  }

  /** Bootstrap the versioned SQ8 layout from an existing corpus
    * (`__batch=-1`), recording the geometry sidecar. */
  def sq8IndexBase(embeddings: DataFrame, centroids: Seq[(Int, Seq[Double])],
      path: String, idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val dir = Levels.newBase(embeddings.sparkSession, path, "sq8IndexBase")
    graft.operators.SimilarityOps.writeSq8Meta(embeddings.sparkSession, path, centroids,
      centroids.headOption.map(_._2.size).getOrElse(0))
    writeSq8Cells(embeddings, centroids, dir, idCol, vecCol)
  }

  private def writeSq8Cells(embeddings: DataFrame, centroids: Seq[(Int, Seq[Double])],
      dir: String, idCol: String, vecCol: String): Unit = {
    graft.plans.GraftFunctions.register(embeddings.sparkSession)
    val vecs = embeddings.select(col(idCol).cast("long").as("id"),
      graft.functions.VectorFns.toDouble(col(vecCol)).as("v"))
    graft.operators.SimilarityOps.assignCells(vecs, centroids)
      .select(col("id"),
        graft.plans.GraftFunctions.sq8Encode(col("v")).as("codes"), col("cell"))
      .repartition(col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(dir)
  }

  /** Fold [[sq8IndexStream]]'s per-batch deltas into the `__batch=-1`
    * base — dedup on the vec id is lossless for the same reason as
    * [[compactPqIndex]]: each id lands in exactly one batch with
    * deterministic codes. */
  def compactSq8Index(spark: SparkSession, path: String): Unit =
    Levels.fold(spark, path, codesFold(spark))

  /** Streaming postings-index maintenance — the lexical-retrieval twin of
    * the ANN index sinks: each micro-batch of documents lands (a) its
    * `(doc_id, dl)` rows at `_docs/__batch=<id>` FIRST, then (b) its
    * `(tok, doc_id, tf)` postings pt-partitioned at `__batch=<id>`. The
    * ordering is the sidecar-first crash rule applied to corpus
    * constants: a crash between the two writes shows a doc in N/avgdl
    * before its postings exist — it simply matches nothing yet; the
    * reverse order would let df count docs the dl join then drops,
    * skewing idf inside the window. Probes
    * ([[graft.operators.RetrievalOps.bm25TopKIndexed]]) read both roots
    * unchanged — `pt=` directory pruning works at every batch level, the
    * per-(tok, doc) fold is max (each doc lands once with deterministic
    * tf under the unique-doc-id contract), and the corpus constants are
    * derived in-DAG from the folded `_docs`, so they track the stream
    * with no sidecar mutation. Idempotent the established way
    * (batch-id-derived Overwrites — a checkpoint replay rewrites both
    * directories at any crash point), lineage refusal, and `_meta.json`
    * pins nPt (a drifted restart would hash new postings to different
    * `pt` dirs; probes would silently miss them, so it fails loudly).
    * doc ids must be unique across the stream's lifetime. Bootstrap an
    * existing corpus with
    * [[graft.operators.RetrievalOps.writePostingsIndex]] (`__batch=-1`),
    * fold committed deltas with [[compactPostingsIndex]]. */
  def postingsStream(docs: DataFrame, path: String, checkpoint: String,
      nPt: Int = 16, idCol: String = "doc_id", textCol: String = "text")
      : DataStreamWriter[Row] =
    sink(docs, checkpoint)(postingsBatch(_, _, path, nPt, idCol, textCol))

  /** One [[postingsStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def postingsBatch(batch: DataFrame, batchId: Long, path: String,
      nPt: Int, idCol: String, textCol: String): Unit = {
    val s = batch.sparkSession
    val (f, p) = Levels.fs(s, path)
    requireBatchLineage(f, p, batchId, "postingsStream", path)
    // guard the `_docs` sidecar root too: it is written FIRST, so a crash
    // between the two writes leaves it one batch ahead of the postings
    // root — a foreign-checkpoint restart at exactly that id must refuse
    // rather than silently overwrite the orphaned delta (the multi-root
    // rule of cardBatch / chunkStoreIngest)
    requireBatchLineage(f, new org.apache.hadoop.fs.Path(s"$path/_docs"),
      batchId, "postingsStream", s"$path/_docs")
    graft.operators.RetrievalOps.assertPostingsMeta(s, path, nPt, "postingsStream")
    // sidecar BEFORE the first landing (the lshBatch crash-window rule)
    if (!f.exists(new org.apache.hadoop.fs.Path(p, "_meta.json")))
      graft.operators.RetrievalOps.writePostingsMeta(s, path, nPt)
    graft.operators.RetrievalOps
      .writeDocsDelta(batch, s"$path/_docs/__batch=$batchId", idCol, textCol)
    graft.operators.RetrievalOps
      .writePostingsDelta(batch, s"$path/__batch=$batchId", nPt, idCol, textCol)
  }

  /** Fold [[postingsStream]]'s per-batch deltas into the `__batch=-1`
    * base — the staged-rename fold over BOTH roots (postings, then the
    * `_docs` sidecar). Dedup on (tok, doc_id) / (doc_id) is lossless for
    * the [[compactPqIndex]] reason: each doc lands in exactly one batch
    * with deterministic rows, so overlap-window duplicates are
    * identical. */
  def compactPostingsIndex(spark: SparkSession, path: String): Unit = {
    Levels.fold(spark, path, Levels.dedupOn(spark,
      "tok STRING, doc_id LONG, tf LONG, positions ARRAY<LONG>, pt INT",
      Seq("tok", "doc_id"), Seq("pt")))
    Levels.fold(spark, s"$path/_docs",
      Levels.dedupOn(spark, "doc_id LONG, dl LONG", Seq("doc_id")))
  }

  /** Incremental/streaming concat-and-chunk packing — the packed
    * manifest ([[graft.operators.AssemblyOps.packTokenSpans]]) as a
    * MAINTAINED asset: appending a delta to a packed 100 TB corpus must
    * cost O(delta), never a re-pack of the other 99%. The stream's
    * arrival order IS the declared corpus order (ascending batch id,
    * then id within a batch); each micro-batch
    *
    *   1. derives the committed token total `T_prev` from the offset
    *      levels strictly below its id (a one-column sum over the slim
    *      doc-offsets frame — compaction keeps the level count small),
    *   2. assigns its docs offsets `T_prev + local exclusive prefix`
    *      (the [[graft.operators.AssemblyOps.exclusiveOffsets]]
    *      two-phase shape within the batch),
    *   3. lands `(doc_id, off, n, ob)` at `_offsets/__batch=<id>`
    *      (`ob = (off+n-1) DIV blockTokens` — END-block partitioned, so
    *      the tail probe below prunes directories), then
    *   4. emits ONLY the spans of sequences the delta completes —
    *      `seq_id ∈ [T_prev DIV L, T_new DIV L)` — for its own docs
    *      UNION the previous tail docs (offset levels filtered
    *      `off + n > S_prev·L`, an ob-pruned point probe re-emitting
    *      the slices the previous batch's incomplete final sequence
    *      withheld), landed `sb = seq_id DIV blockSeqs`-partitioned at
    *      `spans/__batch=<id>` so a loader reads its shard's `sb`
    *      directories only.
    *
    * Readers tolerate every crash point: both writes are batch-id
    * Overwrites (replay rewrites, never duplicates), successors read
    * `__batch < id` only, and the one external window (offsets landed,
    * spans not) only hides not-yet-visible sequences until the replay.
    * `_meta.json` pins (seqLen, blockSeqs, blockTokens) — drifted
    * geometry would corrupt sequence ownership, so it fails loudly.
    * doc ids must be unique across the stream's lifetime. Bootstrap
    * with [[packIndexBase]] (`__batch=-1`), fold with
    * [[compactPackIndex]], read back with [[readPackIndex]]. */
  def packStream(docs: DataFrame, path: String, checkpoint: String,
      seqLen: Long, blockSeqs: Long = 1024L, blockTokens: Long = 1L << 20,
      idCol: String = "doc_id", textCol: String = "text",
      chunkSize: Long = 1L << 20): DataStreamWriter[Row] =
    sink(docs, checkpoint)(packBatch(_, _, path, seqLen, blockSeqs, blockTokens,
      idCol, textCol, chunkSize))

  /** One [[packStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly; `batchId = -1` is the
    * [[packIndexBase]] bootstrap). */
  private[graft] def packBatch(batch: DataFrame, batchId: Long, path: String,
      seqLen: Long, blockSeqs: Long, blockTokens: Long,
      idCol: String, textCol: String, chunkSize: Long): Unit = {
    import graft.operators.AssemblyOps
    val s = batch.sparkSession
    val (f, spansRoot) = Levels.fs(s, s"$path/spans")
    val offRoot = new org.apache.hadoop.fs.Path(s"$path/_offsets")
    requireBatchLineage(f, spansRoot, batchId, "packStream", path)
    // `_offsets/` is written FIRST each batch, so a crash between the two
    // writes leaves it one batch ahead of `spans/` — guard it too, or a
    // foreign-checkpoint restart at exactly that id silently overwrites
    // the orphaned offsets delta (the multi-root rule of cardBatch /
    // chunkStoreIngest)
    requireBatchLineage(f, offRoot, batchId, "packStream", offRoot.toString)
    Levels.pin(s, path, packFields(seqLen, blockSeqs, blockTokens))(bad =>
      s"packStream: pack geometry mismatch vs $path/_meta.json (${bad.mkString("; ")})")
    // committed offsets strictly below this batch (replay-stable)
    val prev =
      if (f.exists(offRoot))
        s.read.schema("doc_id LONG, off LONG, n LONG, ob LONG, __batch LONG")
          .parquet(offRoot.toString).filter(col("__batch") < batchId)
          .groupBy(col("doc_id")) // fold-overlap duplicates are identical
          .agg(max(col("off")).as("off"), max(col("n")).as("n"), max(col("ob")).as("ob"))
      else
        empty(s, "doc_id LONG, off LONG, n LONG, ob LONG")
    // T_prev: bounded driver value (one column-sum over the slim offsets
    // frame — the curatedBatch touched-set precedent), so the tail probe
    // below prunes ob directories with a LITERAL
    val tPrev = Option(prev.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0))
      .getOrElse(0L)
    val sPrev = tPrev / seqLen
    val n = size(graft.functions.TextFns.tokens(coalesce(col(textCol), lit(""))))
      .cast("long")
    val base = batch.select(col(idCol).cast("long").as("__id"), n.as("__n"))
      .filter(col("__n") > 0)
      .withColumn("__ord", col("__id"))
      .withColumn("__chunk", expr(s"__id DIV ${chunkSize}L"))
    val newOff = graft.operators.Checkpoints.pin(
      AssemblyOps.exclusiveOffsets(base)
        .select(col("__id"), (col("__off") + lit(tPrev)).as("__off"), col("__n")),
      reliable = false)
    val tNew = tPrev + Option(
      newOff.agg(coalesce(sum(col("__n")), lit(0L))).head().getLong(0)).getOrElse(0L)
    val sNew = tNew / seqLen
    // offsets delta FIRST (batch-id Overwrite; ob = END block for pruning)
    newOff.select(col("__id").as("doc_id"), col("__off").as("off"), col("__n").as("n"),
        expr(s"(__off + __n - 1) DIV ${blockTokens}L").as("ob"))
      .repartition(col("ob"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("ob").parquet(s"$offRoot/__batch=$batchId")
    // spans the delta completes: this batch's docs + the previous tail
    // (ob-pruned: a tail doc's END block is at or past S_prev·L's block)
    val tail = prev
      .filter(col("ob") >= lit((sPrev * seqLen) / blockTokens))
      .filter(col("off") + col("n") > lit(sPrev * seqLen))
      .select(col("doc_id").as("__id"), col("off").as("__off"), col("n").as("__n"))
    val spans = AssemblyOps.spansBetween(
      newOff.unionByName(tail), seqLen, lit(sPrev), lit(sNew), "doc_id", Nil)
    spans.withColumn("sb", expr(s"seq_id DIV ${blockSeqs}L"))
      .repartition(col("sb"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("sb").parquet(s"$spansRoot/__batch=$batchId")
  }

  /** Bootstrap the versioned pack layout from an existing corpus
    * (`__batch=-1`), recording the geometry sidecar. */
  def packIndexBase(docs: DataFrame, path: String, seqLen: Long,
      blockSeqs: Long = 1024L, blockTokens: Long = 1L << 20,
      idCol: String = "doc_id", textCol: String = "text",
      chunkSize: Long = 1L << 20): Unit = {
    Levels.newBase(docs.sparkSession, s"$path/spans", "packIndexBase")
    graft.operators.ParamMeta.write(docs.sparkSession, path,
      packFields(seqLen, blockSeqs, blockTokens))
    packBatch(docs, Levels.BaseId, path, seqLen, blockSeqs, blockTokens, idCol, textCol,
      chunkSize)
  }

  /** The accumulated packed manifest: every committed level's spans,
    * folded on (seq_id, seq_pos) — a crashed compaction's overlap
    * window duplicates identical rows, which the fold collapses. The
    * result equals [[graft.operators.AssemblyOps.packTokenSpans]] over
    * the corpus in arrival order (PackStreamSpec; oracle row
    * q_stream_pack). */
  def readPackIndex(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema("seq_id LONG, seq_pos LONG, doc_id LONG, doc_start LONG, len LONG, sb LONG, __batch LONG")
      .parquet(s"$path/spans")
      .groupBy(col("seq_id"), col("seq_pos"))
      .agg(max(col("doc_id")).as("doc_id"), max(col("doc_start")).as("doc_start"),
        max(col("len")).as("len"))

  /** Fold [[packStream]]'s per-batch deltas into the `__batch=-1` base
    * on both roots (spans, then offsets) — dedup on (seq_id, seq_pos) /
    * (doc_id) is lossless: each span/doc lands in exactly one batch
    * with deterministic values. */
  def compactPackIndex(spark: SparkSession, path: String): Unit = {
    Levels.fold(spark, s"$path/spans", Levels.dedupOn(spark,
      "seq_id LONG, seq_pos LONG, doc_id LONG, doc_start LONG, len LONG, sb LONG",
      Seq("seq_id", "seq_pos"), Seq("sb")))
    Levels.fold(spark, s"$path/_offsets", Levels.dedupOn(spark,
      "doc_id LONG, off LONG, n LONG, ob LONG", Seq("doc_id"), Seq("ob")))
  }

  private def packFields(seqLen: Long, blockSeqs: Long, blockTokens: Long) =
    Seq("seqLen" -> seqLen, "blockSeqs" -> blockSeqs, "blockTokens" -> blockTokens)

  /** Streaming UniMax-scheduled training manifest — the maintenance
    * story for [[graft.operators.AssemblyOps.trainManifest]], whose
    * global waterfilling is NOT delta-maintainable: every batch moves
    * the water level θ, which can reshuffle every source's allocation,
    * every epoch count, and therefore every packed offset — there is no
    * O(delta) fold (the docs/ROUND12 closing note; contrast
    * [[packStream]], whose arrival-order packing IS delta-foldable). The
    * honest contract is periodic re-manifest, and what makes it
    * scale-sane is WHAT the refresh reads: each micro-batch lands only
    * the slim `(id, source, n_tokens)` projection at
    * `_docs/__batch=<id>` (map-only, O(delta) — the corpus text is never
    * retained), and every `refreshEvery`-th batch recomputes the FULL
    * manifest from the accumulated counts frame
    * ([[graft.operators.AssemblyOps.trainManifest]] with
    * `nTokensCol` — the allocation, expansion, interleave, and packing
    * never touch text) into the versioned `manifest/__batch=<id>`
    * directory, latest-wins like [[clusterIngest]]'s assignment. Refresh
    * cost is O(corpus) over a 3-column frame, amortized over
    * `refreshEvery` batches; between refreshes readers serve the newest
    * committed version ([[readTrainManifest]]), which is exactly the
    * batch `trainManifest` of the corpus as of its version id
    * (arrival order never matters — the schedule is a pure function of
    * the doc set).
    *
    * Idempotent the established way (batch-id-derived Overwrites — the
    * refresh reads `__batch <= id`, and a replay first rewrites its own
    * delta identically, so the recompute converges at every crash
    * point), lineage refusal on BOTH roots, and a `_meta.json` pinning
    * (budgetTokens, epochCap, seqLen, seed, nRanges) — a drifted restart
    * would silently change the global schedule, so it fails loudly.
    * Doc ids must be unique across the stream's lifetime. */
  def manifestStream(docs: DataFrame, path: String, checkpoint: String,
      budgetTokens: Long, epochCap: Int, seqLen: Long,
      refreshEvery: Int = 1, seed: Long = 0L, nRanges: Int = 64,
      sourceCol: String = "source", idCol: String = "doc_id",
      textCol: String = "text"): DataStreamWriter[Row] =
    sink(docs, checkpoint)(manifestBatch(_, _, path, budgetTokens, epochCap, seqLen,
      refreshEvery, seed, nRanges, sourceCol, idCol, textCol))

  /** One [[manifestStream]] micro-batch — a [[scheduleBatch]] with the
    * UniMax delta/refresh pair (extracted so specs can drive replay/crash
    * orderings directly). The slim delta applies the same tokenizer
    * expression the batch trainManifest does, so the counts-based refresh
    * is bit-equal. */
  private[graft] def manifestBatch(batch: DataFrame, batchId: Long, path: String,
      budgetTokens: Long, epochCap: Int, seqLen: Long, refreshEvery: Int,
      seed: Long, nRanges: Int, sourceCol: String, idCol: String,
      textCol: String): Unit =
    scheduleBatch(batch, batchId, path, "manifestStream", refreshEvery,
      Seq("budgetTokens" -> budgetTokens, "epochCap" -> epochCap.toLong,
        "seqLen" -> seqLen, "seed" -> seed, "nRanges" -> nRanges.toLong),
      b => b.select(col(idCol).cast("long").as("doc_id"),
        col(sourceCol).cast("string").as("source"),
        size(graft.functions.TextFns.tokens(coalesce(col(textCol), lit(""))))
          .cast("long").as("n_tokens")),
      "doc_id LONG, source STRING, n_tokens LONG",
      corpus => graft.operators.AssemblyOps.trainManifest(corpus, budgetTokens,
        epochCap, seqLen, seed, nRanges, "source", "doc_id",
        textCol = "n_tokens", nTokensCol = Some("n_tokens")))

  /** Streaming curriculum manifest — [[manifestStream]]'s sibling for the
    * OTHER global schedule: [[graft.operators.AssemblyOps.curriculumManifest]]'s
    * corpus-wide rank buckets move with every batch exactly like the
    * UniMax water level, so the same periodic-re-manifest contract
    * applies. Per batch: the slim `(id, score, n_tokens)` curriculum
    * evidence lands (the TTR score is per-doc computable, text never
    * retained); every `refreshEvery`-th batch re-ranks and re-packs from
    * the accumulated counts
    * ([[graft.operators.AssemblyOps.curriculumManifestFromCounts]]).
    * Serve with [[readCurriculumManifest]]. */
  def curriculumStream(docs: DataFrame, path: String, checkpoint: String,
      nBuckets: Int, seqLen: Long, refreshEvery: Int = 1, seed: Long = 0L,
      rangeWidth: Long = 64L, idCol: String = "doc_id",
      textCol: String = "text"): DataStreamWriter[Row] =
    sink(docs, checkpoint)(curriculumBatch(_, _, path, nBuckets, seqLen, refreshEvery,
      seed, rangeWidth, idCol, textCol))

  /** One [[curriculumStream]] micro-batch. */
  private[graft] def curriculumBatch(batch: DataFrame, batchId: Long,
      path: String, nBuckets: Int, seqLen: Long, refreshEvery: Int,
      seed: Long, rangeWidth: Long, idCol: String, textCol: String): Unit =
    scheduleBatch(batch, batchId, path, "curriculumStream", refreshEvery,
      Seq("nBuckets" -> nBuckets.toLong, "seqLen" -> seqLen, "seed" -> seed,
        "rangeWidth" -> rangeWidth),
      b => graft.operators.AssemblyOps.curriculumCounts(b, idCol, textCol)
        .select(col(idCol).cast("long").as("doc_id"), col("score"),
          col("n_tokens")),
      "doc_id LONG, score LONG, n_tokens LONG",
      corpus => graft.operators.AssemblyOps.curriculumManifestFromCounts(
        corpus, nBuckets, seqLen, seed, "doc_id", rangeWidth))

  /** Streaming quality-classifier maintenance — the third global-schedule
    * maintainer: [[graft.operators.TextOps.logitTrain]]'s full-batch
    * gradient descent is a global function of the corpus (every batch
    * shifts every step's gradient), so the same land-slim-evidence /
    * periodic-retrain contract applies: per batch the deterministic
    * feature vector lands (O(delta), text never retained); every
    * `refreshEvery`-th batch retrains from the accumulated features and
    * lands the scored corpus as a latest-wins version. Serve with
    * [[readLogitScores]]. */
  def logitStream(docs: DataFrame, path: String, checkpoint: String,
      steps: Int = 3, lrDen: Double = 4096.0, refreshEvery: Int = 1)
      : DataStreamWriter[Row] =
    sink(docs, checkpoint)(logitBatch(_, _, path, steps, lrDen, refreshEvery))

  /** The slim evidence-delta schema a [[logitStream]] sink lands —
    * derived from the shared feature template
    * ([[graft.operators.TextOps.LogitXCols]]) so the stream, the
    * compactor and the trainer agree on the model dimension d. */
  private[graft] val LogitDeltaDDL: String =
    ("doc_id LONG" +: "y DOUBLE" +:
      graft.operators.TextOps.LogitXCols.map(x => s"$x DOUBLE")).mkString(", ")

  /** One [[logitStream]] micro-batch. `lrDen` pins by its EXACT IEEE-754
    * bits: a toLong truncation would collapse fractional values (any
    * lrDen in (0,1) pins as 0; 4096.2 and 4096.9 pin alike) and let a
    * drifted restart silently retrain a different descent — the exact
    * silent-schedule-change the guard exists to refuse. `nFeatures` pins
    * d, so a sink created under an older feature template fails loudly
    * instead of reading nulls into the new columns. */
  private[graft] def logitBatch(batch: DataFrame, batchId: Long, path: String,
      steps: Int, lrDen: Double, refreshEvery: Int): Unit =
    scheduleBatch(batch, batchId, path, "logitStream", refreshEvery,
      Seq("steps" -> steps.toLong,
        "lrDen" -> java.lang.Double.doubleToLongBits(lrDen),
        "nFeatures" -> graft.operators.TextOps.LogitXCols.size.toLong,
        // link 0 = logit, 1 = Poisson log-link (glmBatch): both pin it,
        // so neither trainer can silently continue the other's sink
        "link" -> 0L),
      b => graft.operators.TextOps.logitFeatures(b)
        .select(col("doc_id").cast("long").as("doc_id") +: col("y") +:
          graft.operators.TextOps.LogitXCols.map(col): _*),
      LogitDeltaDDL,
      corpus => graft.operators.TextOps.logitScoreFeatures(corpus,
        graft.operators.TextOps.logitTrain(corpus, steps = steps, lrDen = lrDen)))

  /** The LIVE scored corpus of a [[logitStream]] sink — the newest
    * committed retrain, exactly
    * [[graft.operators.TextOps.logitTrainScore]] over the corpus as of
    * that version (same staleness contract as [[readTrainManifest]]). */
  def readLogitScores(spark: SparkSession, path: String): DataFrame =
    readLatestManifest(spark, path, "doc_id LONG, label DOUBLE, logit DOUBLE")

  /** [[logitStream]]'s Poisson (log-link) sibling — the fourth
    * [[scheduleBatch]] instance, maintaining
    * [[graft.operators.TextOps.glmTrainLog]]'s token-COUNT regression
    * (label = the doc's token count in kilotokens, `n_tokens / 1000` —
    * the same pre-scaled outcome as the batch `g_glm_poisson` row, NOT a
    * per-character rate): the GD seam means the ONLY differences are the
    * label expression in the delta and the mean function in the retrain.
    * Serve with [[readGlmScores]]. */
  def glmStream(docs: DataFrame, path: String, checkpoint: String,
      steps: Int = 3, lrDen: Double = 4096.0, refreshEvery: Int = 1)
      : DataStreamWriter[Row] =
    sink(docs, checkpoint)(glmBatch(_, _, path, steps, lrDen, refreshEvery))

  /** One [[glmStream]] micro-batch — [[logitBatch]]'s pinning contract
    * (exact lrDen bits, nFeatures) plus `link` = 1 so a logit sink and a
    * GLM sink can never silently continue each other. */
  private[graft] def glmBatch(batch: DataFrame, batchId: Long, path: String,
      steps: Int, lrDen: Double, refreshEvery: Int): Unit =
    scheduleBatch(batch, batchId, path, "glmStream", refreshEvery,
      Seq("steps" -> steps.toLong,
        "lrDen" -> java.lang.Double.doubleToLongBits(lrDen),
        "nFeatures" -> graft.operators.TextOps.LogitXCols.size.toLong,
        "link" -> 1L),
      b => graft.operators.TextOps.logitFeatures(b,
          label = size(graft.functions.TextFns.tokens(col("text")))
            .cast("double") / lit(1000.0))
        .select(col("doc_id").cast("long").as("doc_id") +: col("y") +:
          graft.operators.TextOps.LogitXCols.map(col): _*),
      LogitDeltaDDL,
      corpus => graft.operators.TextOps.logitScoreFeatures(corpus,
        graft.operators.TextOps.glmTrainLog(corpus, steps = steps, lrDen = lrDen)))

  /** The LIVE scored corpus of a [[glmStream]] sink. */
  def readGlmScores(spark: SparkSession, path: String): DataFrame =
    readLatestManifest(spark, path, "doc_id LONG, label DOUBLE, logit DOUBLE")

  /** Streaming preference-pair maintenance — the fifth [[scheduleBatch]]
    * instance: [[graft.operators.CurationOps.preferencePairs]]' pairing
    * is a global function of each domain's full ranking (every arriving
    * doc can shift which extremes pair), so the same
    * land-slim-evidence / periodic re-pair contract applies. Per batch
    * the `(doc_id, source, score)` evidence lands (the caller's
    * quantized quality score — map-only, text never retained); every
    * `refreshEvery`-th batch re-pairs from the accumulated corpus into a
    * latest-wins version. Serve with [[readPrefPairs]]. */
  def prefPairsStream(docs: DataFrame, path: String, checkpoint: String,
      refreshEvery: Int = 1, rangeWidth: Long = 64L,
      domainCol: String = "source", idCol: String = "doc_id",
      scoreCol: String = "score"): DataStreamWriter[Row] =
    sink(docs, checkpoint)(prefPairsBatch(_, _, path, refreshEvery, rangeWidth,
      domainCol, idCol, scoreCol))

  /** One [[prefPairsStream]] micro-batch. */
  private[graft] def prefPairsBatch(batch: DataFrame, batchId: Long,
      path: String, refreshEvery: Int, rangeWidth: Long, domainCol: String,
      idCol: String, scoreCol: String): Unit =
    scheduleBatch(batch, batchId, path, "prefPairsStream", refreshEvery,
      Seq("rangeWidth" -> rangeWidth),
      b => b.select(col(idCol).cast("long").as("doc_id"),
        col(domainCol).cast("string").as("source"),
        col(scoreCol).cast("long").as("score")),
      "doc_id LONG, source STRING, score LONG",
      corpus => graft.operators.CurationOps.preferencePairs(
        corpus, "source", "doc_id", "score", rangeWidth))

  /** The LIVE preference pairs of a [[prefPairsStream]] sink — the
    * newest committed re-pair, exactly
    * [[graft.operators.CurationOps.preferencePairs]] over the corpus as
    * of that version (the [[readTrainManifest]] staleness contract). */
  def readPrefPairs(spark: SparkSession, path: String): DataFrame =
    readLatestManifest(spark, path,
      "source STRING, pair_rank LONG, chosen_id LONG, chosen_score LONG, " +
        "rejected_id LONG, rejected_score LONG")

  /** Streaming DoReMi mixture maintenance — the sixth [[scheduleBatch]]
    * instance: the domain weights are a global function of the corpus
    * twice over (the classifier's descent sees every doc's features; the
    * EG iteration sees every domain's mean loss), so the same
    * land-slim-evidence / periodic-recompute contract applies. Per batch
    * the deterministic feature vector PLUS the domain lands (O(delta),
    * text never retained); every `refreshEvery`-th batch retrains the
    * classifier on the accumulated features, folds per-doc losses to
    * per-domain means, and re-runs the exponentiated-gradient iteration
    * into a latest-wins version — exactly
    * [[graft.operators.CurationOps.doremiWeights]] over the corpus as of
    * that version (the batch `g_doremi_weights` truth). Serve with
    * [[readDoremiWeights]]. */
  def doremiStream(docs: DataFrame, path: String, checkpoint: String,
      steps: Int = 3, lrDen: Double = 4096.0, eta: Double = 1.0,
      refreshEvery: Int = 1): DataStreamWriter[Row] =
    sink(docs, checkpoint)(doremiBatch(_, _, path, steps, lrDen, eta, refreshEvery))

  /** One [[doremiStream]] micro-batch — [[logitBatch]]'s pinning contract
    * (exact lrDen bits, nFeatures) plus the EG rate's exact bits, so a
    * drifted restart can change neither the descent nor the mixture
    * iteration silently. */
  private[graft] def doremiBatch(batch: DataFrame, batchId: Long,
      path: String, steps: Int, lrDen: Double, eta: Double,
      refreshEvery: Int): Unit =
    scheduleBatch(batch, batchId, path, "doremiStream", refreshEvery,
      Seq("steps" -> steps.toLong,
        "lrDen" -> java.lang.Double.doubleToLongBits(lrDen),
        "nFeatures" -> graft.operators.TextOps.LogitXCols.size.toLong,
        "eta" -> java.lang.Double.doubleToLongBits(eta)),
      b => graft.operators.TextOps.logitFeatures(b)
        .select(col("doc_id").cast("long").as("doc_id") +: col("y") +:
          graft.operators.TextOps.LogitXCols.map(col): _*)
        .join(b.select(col("doc_id").cast("long").as("doc_id"),
          col("source").cast("string").as("source")), Seq("doc_id")),
      DoremiDeltaDDL,
      corpus => {
        val scored = graft.operators.TextOps.logitScoreFeatures(corpus,
          graft.operators.TextOps.logitTrain(corpus, steps = steps, lrDen = lrDen))
        graft.operators.CurationOps.doremiWeights(
          graft.operators.TextOps.logitLossPerDoc(scored)
            .join(corpus.select(col("doc_id"), col("source")), Seq("doc_id")),
          eta = eta, steps = steps)
      })

  /** [[doremiStream]]'s delta schema: the logit evidence plus the domain
    * the mixture weights group by. */
  private[graft] val DoremiDeltaDDL: String =
    LogitDeltaDDL + ", source STRING"

  /** The LIVE domain mixture of a [[doremiStream]] sink — the newest
    * committed recompute, exactly
    * [[graft.operators.CurationOps.doremiWeights]] over the corpus as of
    * that version (the [[readTrainManifest]] staleness contract). */
  def readDoremiWeights(spark: SparkSession, path: String): DataFrame =
    readLatestManifest(spark, path,
      "source STRING, mean_loss DOUBLE, weight DOUBLE")

  /** [[compactManifestState]] for a [[doremiStream]] sink. */
  def compactDoremiState(spark: SparkSession, path: String): Unit =
    compactSchedule(spark, path, DoremiDeltaDDL)

  /** Streaming Bradley–Terry reward maintenance — the seventh
    * [[scheduleBatch]] instance: the reward-ranked keep set is a global
    * function of the corpus THREE times over (the pairing sees every
    * domain's full ranking, the descent sees every pair's feature diff,
    * the quantile keep sees every doc's reward), so the same
    * land-slim-evidence / periodic-recompute contract applies. Per batch
    * the deterministic feature vector PLUS the domain PLUS the quantized
    * quality score lands (O(delta), text never retained); every
    * `refreshEvery`-th batch re-pairs, retrains the pairwise reward on
    * the chosen−rejected diffs, scores every doc, and re-ranks each
    * source's top quarter into a latest-wins version — exactly the batch
    * `g_bt_rank` truth. Serve with [[readBtRank]]. */
  def btRankStream(docs: DataFrame, path: String, checkpoint: String,
      steps: Int = 3, lrDen: Double = 4096.0, keepFrac: Double = 0.25,
      saltBuckets: Int = 4, refreshEvery: Int = 1): DataStreamWriter[Row] =
    sink(docs, checkpoint)(btRankBatch(_, _, path, steps, lrDen, keepFrac,
      saltBuckets, refreshEvery))

  /** One [[btRankStream]] micro-batch — [[logitBatch]]'s pinning contract
    * (exact lrDen bits, nFeatures) plus the keep fraction's exact bits
    * and the salt-bucket count, so a drifted restart can change neither
    * the descent nor the selection silently. */
  private[graft] def btRankBatch(batch: DataFrame, batchId: Long,
      path: String, steps: Int, lrDen: Double, keepFrac: Double,
      saltBuckets: Int, refreshEvery: Int): Unit =
    scheduleBatch(batch, batchId, path, "btRankStream", refreshEvery,
      Seq("steps" -> steps.toLong,
        "lrDen" -> java.lang.Double.doubleToLongBits(lrDen),
        "nFeatures" -> graft.operators.TextOps.LogitXCols.size.toLong,
        "keepFrac" -> java.lang.Double.doubleToLongBits(keepFrac),
        "saltBuckets" -> saltBuckets.toLong),
      b => graft.operators.TextOps.logitFeatures(b)
        .select(col("doc_id").cast("long").as("doc_id") +: col("y") +:
          graft.operators.TextOps.LogitXCols.map(col): _*)
        .join(b.select(col("doc_id").cast("long").as("doc_id"),
          col("source").cast("string").as("source"),
          floor(graft.functions.TextFns.qualityScore(col("text")) * lit(1e4))
            .cast("long").as("score")), Seq("doc_id")),
      BtDeltaDDL,
      corpus => graft.operators.CurationOps.btRewardRank(
        corpus, steps = steps, lrDen = lrDen, keepFrac = keepFrac,
        saltBuckets = saltBuckets))

  /** [[btRankStream]]'s delta schema: the logit evidence plus the domain
    * and the pairing score. */
  private[graft] val BtDeltaDDL: String =
    DoremiDeltaDDL + ", score LONG"

  /** The LIVE reward-ranked keep set of a [[btRankStream]] sink — the
    * newest committed recompute, exactly the batch `g_bt_rank` rows over
    * the corpus as of that version (the [[readTrainManifest]] staleness
    * contract). */
  def readBtRank(spark: SparkSession, path: String): DataFrame =
    readLatestManifest(spark, path,
      "doc_id LONG, source STRING, reward DOUBLE, rank INT")

  /** [[compactManifestState]] for a [[btRankStream]] sink. */
  def compactBtState(spark: SparkSession, path: String): Unit =
    compactSchedule(spark, path, BtDeltaDDL)

  /** The shared core of the global-schedule maintainers
    * ([[manifestStream]], [[curriculumStream]]): a schedule that is a
    * global function of the corpus (waterfilling level, corpus-wide rank
    * strata) admits no per-batch fold, so the maintained contract is —
    * land the slim per-doc evidence delta each batch (map-only, O(delta),
    * text never retained), re-derive the FULL schedule from the
    * accumulated evidence every `refreshEvery`-th batch into latest-wins
    * `manifest/__batch=<id>` versions. Idempotent the established way
    * (batch-id Overwrites; the refresh reads `__batch <= id` after its
    * own delta was just rewritten, so replay converges at every crash
    * point), lineage refusal on BOTH roots, `_meta.json` pins the
    * schedule parameters (drift = a silently different global schedule,
    * so it fails loudly).
    *
    * Doc-id contract: a doc_id re-emitted in a LATER batch is an
    * evidence UPDATE (a re-crawled doc with new text) — the refresh
    * resolves latest-wins on `__batch`, whole-row, never a column-wise
    * mix of two versions. Within one batch ids should be unique; exact
    * duplicate rows are harmless (they resolve to one), conflicting
    * same-batch rows resolve deterministically to the greatest data
    * tuple. Retention: [[compactManifestState]] (and siblings) folds the
    * per-batch `_docs` deltas, [[vacuumScheduleManifests]] prunes
    * superseded manifest versions. */
  private def scheduleBatch(batch: DataFrame, batchId: Long, path: String,
      op: String, refreshEvery: Int, metaFields: Seq[(String, Long)],
      deltaOf: DataFrame => DataFrame, deltaDDL: String,
      remanifest: DataFrame => DataFrame): Unit = {
    require(refreshEvery >= 1, "refreshEvery must be >= 1")
    val s = batch.sparkSession
    val (f, docsRoot) = Levels.fs(s, s"$path/_docs")
    val manifestRoot = new org.apache.hadoop.fs.Path(s"$path/manifest")
    Seq(docsRoot, manifestRoot).foreach { r =>
      requireBatchLineage(f, r, batchId, op, r.toString)
    }
    Levels.pin(s, path, metaFields)(bad =>
      s"$op: schedule parameter mismatch vs $path/_meta.json " +
        s"(${bad.mkString("; ")}) — a drifted restart would silently change " +
        "the global schedule; restart with the recorded parameters " +
        "or use a fresh directory")
    // slim evidence delta FIRST
    deltaOf(batch)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$docsRoot/__batch=$batchId")
    if (batchId % refreshEvery == 0) {
      // heal a crashed out-of-band fold BEFORE reading state this refresh
      // will PERSIST (the healFoldLeftovers reasoning: a manifest derived
      // from the hide window's visible levels alone would be wrong AND
      // durable); rerunning the idempotent latest-wins fold unions the
      // staging/retired leftovers back in. Single-writer context: a
      // leftover means the out-of-band compaction crashed, so rerunning
      // cannot race it. No-op (two exists probes) in the steady state.
      Levels.healFoldLeftovers(s, docsRoot.toString,
        Levels.latestWinsOn(s, deltaDDL, Seq("doc_id")))
      // the accumulated evidence INCLUDING this batch's delta (just
      // rewritten, so a replay recomputes identically), resolved
      // LATEST-WINS per doc: a re-emitted doc is an evidence update and
      // its newest whole row wins (never a column-wise mix of versions).
      // The fold's base re-enters at __batch=-1, so any visible delta
      // correctly supersedes it; crash-overlap duplicates (base
      // installed, folded delta not yet dropped) carry identical rows at
      // two levels and resolve to one. Ties within one level take the
      // greatest data tuple — deterministic either way, and never hit by
      // unique-ids-per-batch sources.
      val dataCols = org.apache.spark.sql.types.StructType.fromDDL(deltaDDL)
        .fieldNames.filterNot(_ == "doc_id").toSeq
      val corpus = s.read.schema(s"$deltaDDL, __batch LONG")
        .parquet(docsRoot.toString)
        .filter(col("__batch") <= batchId)
        .groupBy(col("doc_id"))
        .agg(max_by(struct(dataCols.map(col): _*),
          struct((col("__batch") +: dataCols.map(col)): _*)).as("__v"))
        .select(col("doc_id") +: dataCols.map(c => col(s"__v.$c").as(c)): _*)
      remanifest(corpus)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$manifestRoot/__batch=$batchId")
    }
  }

  /** Fold a [[manifestStream]] sink's accumulated `_docs` evidence deltas
    * into the `__batch=-1` base — without it every refresh re-lists and
    * re-reads one delta directory per batch forever (unbounded small-file
    * growth on a long-running stream). Latest-wins per doc
    * ([[Levels.latestWinsOn]]): a re-emitted doc's newest evidence
    * survives the fold exactly as the refresh resolves it, and the
    * refresh heals crash leftovers itself before any state it persists.
    * Single-maintainer context like every other compactor. */
  def compactManifestState(spark: SparkSession, path: String): Unit =
    compactSchedule(spark, path, "doc_id LONG, source STRING, n_tokens LONG")

  private def compactSchedule(spark: SparkSession, path: String, deltaDDL: String): Unit =
    Levels.fold(spark, s"$path/_docs", Levels.latestWinsOn(spark, deltaDDL, Seq("doc_id")))

  /** [[compactManifestState]] for a [[curriculumStream]] sink. */
  def compactCurriculumState(spark: SparkSession, path: String): Unit =
    compactSchedule(spark, path, "doc_id LONG, score LONG, n_tokens LONG")

  /** [[compactManifestState]] for a [[logitStream]] sink. */
  def compactLogitState(spark: SparkSession, path: String): Unit =
    compactSchedule(spark, path, LogitDeltaDDL)

  /** [[compactManifestState]] for a [[prefPairsStream]] sink. */
  def compactPrefState(spark: SparkSession, path: String): Unit =
    compactSchedule(spark, path, "doc_id LONG, source STRING, score LONG")

  /** Prune a schedule sink's superseded full-manifest versions, keeping
    * the newest `keepVersions` — each version is O(corpus-span-count)
    * rows, so unbounded retention is O(refreshes × corpus) storage on a
    * long-running stream. Writer-safe in the single-maintainer context:
    * the stream only APPENDS new versions and [[readTrainManifest]] /
    * [[readCurriculumManifest]] / [[readLogitScores]] read the newest,
    * so dropping older versions races neither; a reader that LISTED
    * before the vacuum may still be scanning a dropped version — size
    * `keepVersions` to the reader horizon (the
    * [[graft.sources.Generations.vacuum]] retention contract).
    *
    * Crash-safety: only versions carrying a `_SUCCESS` marker COUNT as
    * kept — a version mid-write (or left partial by a crash) must never
    * displace the last complete one out of the keep window, or readers
    * would serve a partial manifest until the stream replays the batch.
    * Deletion therefore prunes strictly BELOW the oldest kept complete
    * version (which also removes crashed partials older than it); with
    * no complete version at all, nothing is deleted. */
  def vacuumScheduleManifests(spark: SparkSession, path: String,
      keepVersions: Int = 1): Unit = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val root = s"$path/manifest"
    val (f, p) = Levels.fs(spark, root)
    val dirs = Levels.ids(f, p)
    val complete = Levels.committed(f, p).reverse
    // A committer configured with marksuccessfuljobs=false never writes
    // the marker, so NO version ever counts as complete and this vacuum
    // silently degrades to a permanent no-op (unbounded growth on a
    // long-running stream). Make the degradation loud instead of guessing —
    // falling back to count-based pruning here would delete the only
    // recoverable versions on a sink whose newest write really did crash
    // mid-commit.
    if (dirs.nonEmpty && complete.isEmpty)
      System.err.println(
        s"[graft] vacuumScheduleManifests: ${dirs.size} manifest version(s) " +
          s"under $p but none carries _SUCCESS - nothing vacuumed. If the " +
          "commit protocol does not write markers " +
          "(mapreduce.fileoutputcommitter.marksuccessfuljobs=false), " +
          "retention is disabled; enable markers or prune manually.")
    complete.take(keepVersions).lastOption.foreach { floor =>
      dirs.filter(_ < floor).foreach(v => f.delete(
        new org.apache.hadoop.fs.Path(Levels.dir(root, v)), true): Unit)
    }
  }

  /** The LIVE training manifest of a [[manifestStream]] sink: the newest
    * committed version — exactly
    * [[graft.operators.AssemblyOps.trainManifest]] over the corpus as of
    * that version's batch. Between refreshes the schedule is
    * intentionally stale by < `refreshEvery` batches (the documented
    * contract; waterfilling admits no cheaper maintenance). */
  def readTrainManifest(spark: SparkSession, path: String): DataFrame =
    readLatestManifest(spark, path,
      "seq_id LONG, seq_pos LONG, doc_id LONG, source STRING, " +
        "epoch LONG, doc_start LONG, len LONG")

  /** The LIVE curriculum manifest of a [[curriculumStream]] sink — the
    * newest committed version, exactly
    * [[graft.operators.AssemblyOps.curriculumManifest]] over the corpus
    * as of that version's batch (same staleness contract as
    * [[readTrainManifest]]). */
  def readCurriculumManifest(spark: SparkSession, path: String): DataFrame =
    readLatestManifest(spark, path,
      "seq_id LONG, seq_pos LONG, doc_id LONG, doc_start LONG, " +
        "len LONG, bucket LONG")

  /** Serve the newest COMMITTED manifest version: the largest
    * `__batch=<id>` directory carrying a `_SUCCESS` marker. A version
    * mid-write — or left partial/empty by a crash before job-commit
    * (under the v1 committer only `_temporary` exists in that window) —
    * must never be served: `spark.read.schema(ddl).parquet` on it would
    * return an EMPTY manifest as if it were current, and a training run
    * reading it mid-crash-window would silently get zero sequences. The
    * completeness contract mirrors [[vacuumScheduleManifests]], which for
    * the same reason never lets a marker-less version displace the last
    * complete one out of the keep window. */
  private def readLatestManifest(spark: SparkSession, path: String,
      ddl: String): DataFrame = {
    val root = s"$path/manifest"
    val (f, p) = Levels.fs(spark, root)
    Levels.committed(f, p).lastOption match {
      case Some(v) => spark.read.schema(ddl).parquet(Levels.dir(root, v))
      case None => empty(spark, ddl)
    }
  }

  private def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Streaming content-addressed chunk-store ingest — the CAS-backup
    * twin of the other versioned sinks: each micro-batch of binary
    * payloads is CDC-chunked ([[graft.operators.MultimodalOps.cdcByteChunks]],
    * map-only), its NOVEL chunk contents (anti-join against every
    * committed level's addresses) land at `chunks/__batch=<id>` and its
    * recipes at `recipes/__batch=<id>` — so across the stream's lifetime
    * each distinct chunk is stored once while every payload stays
    * byte-exactly reassemblable via
    * [[graft.operators.MultimodalOps.readChunkStore]] (which reads the
    * leveled layout unchanged through partition discovery).
    *
    * Idempotent the established way: both writes are batch-id-derived
    * Overwrites and the anti-join reads `__batch < id` only, so a
    * checkpoint-replayed batch recomputes the identical novel set and
    * rewrites its own directories at any crash point. The `_meta.json`
    * sidecar pins (w, divisor) — a drifted restart would not corrupt
    * reassembly (recipes are self-contained) but WOULD silently stop
    * deduplicating against history (different boundaries ⇒ different
    * addresses), so it fails loudly like the other parameter contracts.
    * Payload ids must be unique across the stream's lifetime.
    * [[compactChunkStore]] folds committed levels. */
  def chunkStoreIngest(media: DataFrame, path: String, checkpoint: String,
      w: Int = 8, divisor: Int = 16,
      idCol: String = "media_id", binCol: String = "content"): DataStreamWriter[Row] =
    sink(media, checkpoint)(storeBatch(_, _, path, w, divisor, idCol, binCol))

  /** One [[chunkStoreIngest]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def storeBatch(batch: DataFrame, batchId: Long, path: String,
      w: Int, divisor: Int, idCol: String, binCol: String): Unit = {
    val s = batch.sparkSession
    val (f, recipesRoot) = Levels.fs(s, s"$path/recipes")
    requireBatchLineage(f, recipesRoot, batchId, "chunkStoreIngest", path)
    // chunks/ is written FIRST each batch, so a crash between the two
    // writes leaves it one batch ahead of recipes/ — guard it too
    requireBatchLineage(f, new org.apache.hadoop.fs.Path(s"$path/chunks"),
      batchId, "chunkStoreIngest", s"$path/chunks")
    Levels.pin(s, path, Seq("w" -> w.toLong, "divisor" -> divisor.toLong))(bad =>
      s"chunkStoreIngest chunking parameters disagree with the store at $path " +
        s"(${bad.map(_.replace("index=", "store=")).mkString(", ")}) — a drifted " +
        "restart silently stops deduplicating against history; restart with the " +
        "store's parameters or use a fresh path")
    // the novel-set anti-join reads the accumulated chunk addresses: a
    // crashed compactChunkStore's hide window would hide the folded
    // history and re-store known chunks as "novel" — duplicate addr rows
    // that persist past the fold's own recovery — so heal first
    Levels.healFoldLeftovers(s, s"$path/chunks", chunksFold(s))
    val chunks = graft.operators.MultimodalOps
      .cdcByteChunks(batch, w, divisor, idCol, binCol)
      .withColumn("addr", sha2(col("chunk_bytes"), 256))
      .localCheckpoint(true)
    val priorLevels = Levels.ids(s, s"$path/chunks").filter(_ < batchId)
      .map(Levels.dir(s"$path/chunks", _))
    val novel = chunks
      .groupBy(col("addr")).agg(max(col("chunk_bytes")).as("chunk_bytes"))
    val deduped =
      if (priorLevels.isEmpty) novel
      else novel.join(
        s.read.schema("addr STRING, chunk_bytes BINARY")
          .parquet(priorLevels: _*).select(col("addr")),
        Seq("addr"), "left_anti")
    deduped.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/chunks/__batch=$batchId")
    chunks.select(col(idCol), col("chunk_idx"), col("addr"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/recipes/__batch=$batchId")
  }

  /** Fold the committed levels of a [[chunkStoreIngest]] layout — both
    * sides, the leveled fold (README, "Leveled artifact layout"). Chunk
    * rows dedup on the address (bytes identical per address), recipe rows
    * on (id, chunk_idx) (each lands in exactly one batch with
    * deterministic content). */
  def compactChunkStore(spark: SparkSession, path: String): Unit = {
    Levels.fold(spark, s"$path/chunks", chunksFold(spark))
    Levels.fold(spark, s"$path/recipes", Levels.dedupOn(spark,
      "media_id LONG, chunk_idx INT, addr STRING", Seq("media_id", "chunk_idx")))
  }

  private def chunksFold(spark: SparkSession) =
    Levels.dedupOn(spark, "addr STRING, chunk_bytes BINARY", Seq("addr"))

  /** Streaming MinHash-LSH index maintenance — the text-space twin of
    * [[ivfIndexStream]]: each micro-batch of documents is shingled,
    * min-hashed and banded (the [[graft.operators.DedupOps.writeMinHashIndex]]
    * derivation, deterministic — a streamed corpus signs identically to a
    * batch-built one) and landed in the (band, bucket)-partitioned layout
    * under a batch-id-derived directory:
    * `path/__batch=<id>/band=<b>/bucket=<k>`. Probes
    * ([[graft.operators.DedupOps.minHashNearDupsIndexed]]) read the root
    * unchanged; point probes with literal (band, bucket) still prune to
    * the matching directories of every batch level.
    *
    * Idempotent via per-batch Overwrite like the other versioned sinks;
    * the first landing records the `_meta.json` parameter sidecar and
    * every later batch asserts against it, so a restart with different
    * LSH parameters fails loudly instead of silently writing an index
    * whose halves don't join. Bootstrap with [[lshIndexBase]]
    * (`__batch=-1`), fold deltas with [[compactLshIndex]]. Doc ids must
    * be unique across the stream's lifetime, as for [[ivfIndexStream]]. */
  def lshIndexStream(docs: DataFrame, path: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, nHashes: Int = 16, bands: Int = 4,
      nBuckets: Int = 64): DataStreamWriter[Row] =
    sink(docs, checkpoint)(lshBatch(_, _, path, idCol, textCol, shingleK, nHashes, bands, nBuckets))

  /** One [[lshIndexStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def lshBatch(batch: DataFrame, batchId: Long, path: String,
      idCol: String, textCol: String, shingleK: Int, nHashes: Int,
      bands: Int, nBuckets: Int): Unit = {
    val s = batch.sparkSession
    val (f, p) = Levels.fs(s, path)
    requireBatchLineage(f, p, batchId, "lshIndexStream", path)
    graft.operators.DedupOps.assertLshMeta(s, path, shingleK, nHashes, bands, nBuckets)
    // record the parameters BEFORE the first landing: a crash between the
    // two leaves the sidecar and no data, so a parameter-drifted restart
    // still fails loudly instead of landing an unjoinable index half
    if (!f.exists(new org.apache.hadoop.fs.Path(p, "_meta.json")))
      graft.operators.DedupOps.writeLshMeta(s, path, shingleK, nHashes, bands, nBuckets)
    graft.operators.DedupOps
      .bandedWithBucket(batch, idCol, textCol, shingleK, nHashes, bands, nBuckets)
      .repartition(col("band"), col("bucket"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("band", "bucket").parquet(s"$path/__batch=$batchId")
  }

  /** Bootstrap the versioned LSH layout from an existing corpus: the batch
    * signing lands at `__batch=-1` (the base) with the parameter sidecar,
    * after which [[lshIndexStream]] appends deltas above it. */
  def lshIndexBase(corpus: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, nHashes: Int = 16, bands: Int = 4, nBuckets: Int = 64): Unit = {
    graft.operators.DedupOps
      .bandedWithBucket(corpus, idCol, textCol, shingleK, nHashes, bands, nBuckets)
      .repartition(col("band"), col("bucket"))
      .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
      .partitionBy("band", "bucket").parquet(Levels.base(path))
    graft.operators.DedupOps.writeLshMeta(
      corpus.sparkSession, path, shingleK, nHashes, bands, nBuckets)
  }

  /** Fold [[lshIndexStream]]'s per-batch deltas into the `__batch=-1`
    * base — the leveled fold (README, "Leveled artifact layout"). Dedup on
    * (id, band, bandsig) is lossless: signatures are deterministic, so an
    * overlap-window duplicate carries identical columns. */
  def compactLshIndex(spark: SparkSession, path: String): Unit =
    Levels.fold(spark, path, lshFold(spark))

  private def lshFold(spark: SparkSession) =
    Levels.dedupOn(spark, "id LONG, bandsig LONG, band INT, bucket INT",
      Seq("id", "band", "bandsig"), Seq("band", "bucket"))

  /** Streaming pHash-index maintenance — [[lshIndexStream]]'s video twin:
    * each micro-batch of media is frame-sampled, DCT-hashed, banded
    * ([[graft.operators.MultimodalOps.bandedPhash]]) and landed under a
    * batch-id-derived `__batch=<id>` directory in the same
    * (band_ix, bucket) layout the batch writer uses — probes
    * ([[graft.operators.MultimodalOps.mediaPhashDupsIndexed]]) read the
    * whole root, so a streamed corpus indexes identically to a
    * batch-built one. Idempotent via per-batch Overwrite (hashes are
    * deterministic given the batch contents); `_meta.json` pins
    * fps/k/nBuckets on first landing and is asserted per batch — a
    * drifted restart fails loudly instead of landing unjoinable bands.
    * Fold deltas with [[compactPhashIndex]]. */
  def phashIndexStream(media: DataFrame, path: String, checkpoint: String,
      fps: Int = 4, k: Int = 8, nBuckets: Int = 64): DataStreamWriter[Row] =
    sink(media, checkpoint)(phashBatch(_, _, path, fps, k, nBuckets))

  /** One [[phashIndexStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def phashBatch(batch: DataFrame, batchId: Long, path: String,
      fps: Int, k: Int, nBuckets: Int): Unit = {
    val s = batch.sparkSession
    val (f, p) = Levels.fs(s, path)
    requireBatchLineage(f, p, batchId, "phashIndexStream", path)
    graft.operators.MultimodalOps.assertPhashMeta(s, path, fps, k, nBuckets)
    // meta BEFORE data — the lshBatch first-landing crash-window reasoning
    if (!f.exists(new org.apache.hadoop.fs.Path(p, "_meta.json")))
      graft.operators.MultimodalOps.writePhashMeta(s, path, fps, k, nBuckets)
    graft.operators.MultimodalOps.bandedPhash(batch, fps, k, nBuckets)
      .repartition(col("band_ix"), col("bucket"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("band_ix", "bucket").parquet(s"$path/__batch=$batchId")
  }

  /** Fold [[phashIndexStream]]'s per-batch deltas into the `__batch=-1`
    * base — the leveled fold (README, "Leveled artifact layout"). Dedup on
    * (media_id, frame_ix, band_ix) is lossless: the DCT hash is
    * deterministic, so an overlap-window duplicate carries identical
    * columns. */
  def compactPhashIndex(spark: SparkSession, path: String): Unit =
    Levels.fold(spark, path, Levels.dedupOn(spark,
      "media_id LONG, frame_ix LONG, phash LONG, band LONG, band_ix INT, bucket INT",
      Seq("media_id", "frame_ix", "band_ix"), Seq("band_ix", "bucket")))

  /** Streaming shingle-COUNT index maintenance — the exact-substring twin
    * of [[lshIndexStream]]: each micro-batch of documents is shingled and
    * map-side-combined into per-batch partial counts
    * ([[graft.operators.TextOps.shinglePartialCounts]], tagged
    * `src = batchId`), landed pb-partitioned under a batch-id-derived
    * directory: `path/__batch=<id>/pb=<p>`. Probes
    * ([[graft.operators.TextOps.duplicatedSpansAgainst]]) final-merge the
    * source-tagged partials, so a streamed corpus counts identically to a
    * batch-signed one ([[graft.operators.TextOps.writeShingleIndex]], which
    * bootstraps the `__batch=-1` base).
    *
    * Idempotent via per-batch Overwrite like the other versioned sinks: a
    * checkpoint-replayed batch rewrites its OWN `(shingle, src=batchId)`
    * rows rather than double-counting them (counts are deterministic given
    * the batch contents). The `_meta.json` parameter sidecar is recorded on
    * first landing and asserted per batch — a restart with drifted
    * (k, nPb, hashed) fails loudly instead of landing partials that merge
    * into a wrong occurrence count. Fold deltas with
    * [[compactShingleIndex]]. Unlike the id-keyed sinks, re-sending a
    * DOCUMENT in a later batch is not idempotent (its shingles count
    * again under the new src) — at-least-once sources compose
    * [[dedupedEvents]]-style upstream dedup. */
  def shingleIndexStream(docs: DataFrame, path: String, checkpoint: String,
      k: Int = 3, nPb: Int = 16, hashed: Boolean = true): DataStreamWriter[Row] =
    sink(docs, checkpoint)(shingleBatch(_, _, path, k, nPb, hashed))

  /** One [[shingleIndexStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def shingleBatch(batch: DataFrame, batchId: Long, path: String,
      k: Int, nPb: Int, hashed: Boolean): Unit = {
    val s = batch.sparkSession
    val (f, p) = Levels.fs(s, path)
    requireBatchLineage(f, p, batchId, "shingleIndexStream", path)
    graft.operators.TextOps.assertSpanMeta(s, path, k, Some(nPb), Some(hashed))
    // meta BEFORE data — same first-landing crash-window reasoning as
    // lshBatch/bloomBatch
    if (!f.exists(new org.apache.hadoop.fs.Path(p, "_meta.json")))
      graft.operators.TextOps.writeSpanMeta(s, path, k, nPb, hashed)
    graft.operators.TextOps.shinglePartialCounts(batch, k, nPb, hashed, src = batchId)
      .repartition(col("pb"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("pb").parquet(s"$path/__batch=$batchId")
  }

  /** Fold [[shingleIndexStream]]'s per-batch deltas into the `__batch=-1`
    * base — the leveled fold (README, "Leveled artifact layout"). Rows stay
    * SOURCE-TAGGED partials, deduped on (shingle, src) — identical rows in
    * the fold-overlap window, so dropping duplicates is exact, whereas a
    * SUMMING fold would double-count under exactly that overlap (and on a
    * crash-rerun); the final merge stays the probe's job
    * ([[graft.operators.TextOps.readShingleCounts]]). The shingle storage
    * type comes from the index's own sidecar. */
  def compactShingleIndex(spark: SparkSession, path: String): Unit = {
    val hashed = graft.operators.TextOps.readSpanMetaField(spark, path, "hashed")
    require(hashed.isDefined,
      s"no _meta.json under $path — nothing has landed yet (the first batch " +
        "or writeShingleIndex records it), so there is nothing to compact")
    val t = if (hashed.get == 1) "LONG" else "STRING"
    Levels.fold(spark, path, Levels.dedupOn(spark, s"shingle $t, cnt LONG, src LONG, pb INT",
      Seq("shingle", "src"), Seq("pb")))
  }

  /** Streaming Kneser–Ney count maintenance — the maintained-model twin of
    * [[graft.operators.TextOps.knScore]]: each micro-batch lands its RAW
    * unigram and consecutive-pair type counts as source-tagged partials
    * (`src = batchId` — the [[shingleIndexStream]] discipline: compaction
    * dedups on (key, src) and never sums, so fold-overlap and crash-rerun
    * windows cannot double-count; the read-side merge
    * ([[readKnCounts]]) does the one SUM). Counts are additive, so unlike
    * the waterfilling manifest this model IS delta-maintainable — but the
    * `<unk>` vocabulary cut is NOT (a growing stream moves tokens across
    * `minCount`), which is why the landed frames stay unmapped and
    * [[graft.operators.TextOps.knScore]] applies the cut at model-read
    * time over the folded TYPE counts: a model-sized recompute per probe,
    * never a corpus re-scan. No parameter sidecar: nothing about the
    * landing shape is tunable (minCount / discount are read-time
    * choices). Doc ids need not be globally unique here — only
    * within-batch pair extraction uses them. */
  def knCountsStream(docs: DataFrame, path: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text"): DataStreamWriter[Row] =
    sink(docs, checkpoint)(knBatch(_, _, path, idCol, textCol))

  /** One [[knCountsStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly; `batchId = -1` bootstraps an
    * existing corpus as the base). */
  private[graft] def knBatch(batch: DataFrame, batchId: Long, path: String,
      idCol: String, textCol: String): Unit = {
    val s = batch.sparkSession
    val (f, uniRoot) = Levels.fs(s, s"$path/_unigrams")
    val pairsRoot = new org.apache.hadoop.fs.Path(s"$path/_pairs")
    Seq(uniRoot, pairsRoot).foreach { r =>
      requireBatchLineage(f, r, batchId, "knCountsStream", r.toString)
    }
    // two independent landings over the pinned batch, disjoint roots —
    // overlap them (guide §2.6; both are idempotent Overwrites of this
    // batch's own level, so any crash interleaving converges on replay)
    val b = batch.localCheckpoint(true)
    graft.operators.Par.run(s, parallelism = 2)(
      () => graft.operators.TextOps.knUnigramCounts(b, textCol)
        .withColumn("src", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$uniRoot/__batch=$batchId"),
      () => graft.operators.TextOps.knPairCounts(b, idCol, textCol)
        .withColumn("src", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$pairsRoot/__batch=$batchId"))
    ()
  }

  /** The accumulated raw count frames of a [[knCountsStream]] sink —
    * `(rawUni, rawPair)` exactly as
    * [[graft.operators.TextOps.knUnigramCounts]] /
    * [[graft.operators.TextOps.knPairCounts]] over the whole streamed
    * corpus: max over (key, src) collapses fold-overlap duplicates, then
    * one SUM merges the per-batch partials. Feed straight into
    * [[graft.operators.TextOps.knScore]]. */
  def readKnCounts(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val uni = spark.read.schema("w STRING, c LONG, src LONG, __batch LONG")
      .parquet(s"$path/_unigrams")
      .groupBy(col("w"), col("src")).agg(max(col("c")).as("c"))
      .groupBy(col("w")).agg(sum(col("c")).as("c"))
    val pairs = spark.read.schema("w1 STRING, w2 STRING, c LONG, src LONG, __batch LONG")
      .parquet(s"$path/_pairs")
      .groupBy(col("w1"), col("w2"), col("src")).agg(max(col("c")).as("c"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c"))
    (uni, pairs)
  }

  /** Fold [[knCountsStream]]'s per-batch deltas into the `__batch=-1` base
    * on both roots — source-tagged partials dedup on (key, src), the
    * merge stays [[readKnCounts]]'s job (the [[compactShingleIndex]]
    * reasoning). */
  def compactKnCounts(spark: SparkSession, path: String): Unit = {
    // the two roots fold independently (disjoint staged renames) —
    // overlap them (guide §2.6)
    graft.operators.Par.run(spark, parallelism = 2)(
      () => Levels.fold(spark, s"$path/_pairs", Levels.dedupOn(spark,
        "w1 STRING, w2 STRING, c LONG, src LONG", Seq("w1", "w2", "src"))),
      () => Levels.fold(spark, s"$path/_unigrams", Levels.dedupOn(spark,
        "w STRING, c LONG, src LONG", Seq("w", "src"))))
    ()
  }

  /** [[knCountsStream]] one Markov order up: maintains the TRIGRAM
    * Kneser–Ney model's evidence — raw unigram counts (the vocabulary
    * cut) and raw consecutive-triple type counts (every derived
    * statistic of [[graft.operators.TextOps.kn3Score]], the bigram
    * continuation level included, is count algebra over these, so
    * nothing else needs maintaining). Same source-tagged-partials
    * discipline, same read-time `<unk>` cut. */
  def kn3CountsStream(docs: DataFrame, path: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text"): DataStreamWriter[Row] =
    sink(docs, checkpoint)(kn3Batch(_, _, path, idCol, textCol))

  /** One [[kn3CountsStream]] micro-batch. */
  private[graft] def kn3Batch(batch: DataFrame, batchId: Long, path: String,
      idCol: String, textCol: String): Unit = {
    val s = batch.sparkSession
    val (f, uniRoot) = Levels.fs(s, s"$path/_unigrams")
    val triRoot = new org.apache.hadoop.fs.Path(s"$path/_trigrams")
    Seq(uniRoot, triRoot).foreach { r =>
      requireBatchLineage(f, r, batchId, "kn3CountsStream", r.toString)
    }
    // the knBatch overlap, one Markov order up
    val b = batch.localCheckpoint(true)
    graft.operators.Par.run(s, parallelism = 2)(
      () => graft.operators.TextOps.knUnigramCounts(b, textCol)
        .withColumn("src", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$uniRoot/__batch=$batchId"),
      () => graft.operators.TextOps.knTrigramCounts(b, idCol, textCol)
        .withColumn("src", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$triRoot/__batch=$batchId"))
    ()
  }

  /** The accumulated `(rawUni, rawTri)` frames of a [[kn3CountsStream]]
    * sink — feed straight into [[graft.operators.TextOps.kn3Score]]. */
  def readKn3Counts(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val uni = spark.read.schema("w STRING, c LONG, src LONG, __batch LONG")
      .parquet(s"$path/_unigrams")
      .groupBy(col("w"), col("src")).agg(max(col("c")).as("c"))
      .groupBy(col("w")).agg(sum(col("c")).as("c"))
    val tri = spark.read
      .schema("w1 STRING, w2 STRING, w3 STRING, c LONG, src LONG, __batch LONG")
      .parquet(s"$path/_trigrams")
      .groupBy(col("w1"), col("w2"), col("w3"), col("src")).agg(max(col("c")).as("c"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(sum(col("c")).as("c"))
    (uni, tri)
  }

  /** Fold [[kn3CountsStream]]'s per-batch deltas on both roots. */
  def compactKn3Counts(spark: SparkSession, path: String): Unit = {
    // the compactKnCounts overlap, one Markov order up
    graft.operators.Par.run(spark, parallelism = 2)(
      () => Levels.fold(spark, s"$path/_trigrams", Levels.dedupOn(spark,
        "w1 STRING, w2 STRING, w3 STRING, c LONG, src LONG", Seq("w1", "w2", "w3", "src"))),
      () => Levels.fold(spark, s"$path/_unigrams", Levels.dedupOn(spark,
        "w STRING, c LONG, src LONG", Seq("w", "src"))))
    ()
  }

  /** Streaming Naive Bayes model maintenance — the classifier whose
    * evidence IS additive (class-token counts, class-document counts), so
    * unlike the GD-trained [[logitStream]] no periodic retrain is needed:
    * the maintained counts ARE the model, fresh after every batch. Same
    * source-tagged-partials discipline as [[knCountsStream]]; smoothing
    * constants (T_c, V, priors) derive at read time from the folded
    * frames. Classify with [[graft.operators.TextOps.nbScore]] over
    * [[readNbCounts]]. */
  def nbCountsStream(docs: DataFrame, path: String, checkpoint: String,
      classCol: String = "lang", textCol: String = "text"): DataStreamWriter[Row] =
    sink(docs, checkpoint)(nbBatch(_, _, path, classCol, textCol))

  /** One [[nbCountsStream]] micro-batch. */
  private[graft] def nbBatch(batch: DataFrame, batchId: Long, path: String,
      classCol: String, textCol: String): Unit = {
    val s = batch.sparkSession
    val (f, ncwRoot) = Levels.fs(s, s"$path/_ncw")
    val clsRoot = new org.apache.hadoop.fs.Path(s"$path/_cls")
    Seq(ncwRoot, clsRoot).foreach { r =>
      requireBatchLineage(f, r, batchId, "nbCountsStream", r.toString)
    }
    // the knBatch overlap: two independent landings, disjoint roots
    val b = batch.localCheckpoint(true)
    graft.operators.Par.run(s, parallelism = 2)(
      () => b.select(col(classCol).as("__c"),
          explode(graft.functions.TextFns.tokens(col(textCol))).as("w"))
        .groupBy(col("__c"), col("w")).agg(count(lit(1)).as("__n"))
        .withColumn("src", lit(batchId))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$ncwRoot/__batch=$batchId"),
      () => b.groupBy(col(classCol).as("__c")).agg(count(lit(1)).as("__dc"))
        .withColumn("src", lit(batchId))
        .coalesce(1) // class-cardinality rows
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$clsRoot/__batch=$batchId"))
    ()
  }

  /** The accumulated `(ncw, cls)` model frames of an [[nbCountsStream]]
    * sink — feed straight into [[graft.operators.TextOps.nbScore]]. */
  def readNbCounts(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val ncw = spark.read.schema("__c STRING, w STRING, __n LONG, src LONG, __batch LONG")
      .parquet(s"$path/_ncw")
      .groupBy(col("__c"), col("w"), col("src")).agg(max(col("__n")).as("__n"))
      .groupBy(col("__c"), col("w")).agg(sum(col("__n")).as("__n"))
    val cls = spark.read.schema("__c STRING, __dc LONG, src LONG, __batch LONG")
      .parquet(s"$path/_cls")
      .groupBy(col("__c"), col("src")).agg(max(col("__dc")).as("__dc"))
      .groupBy(col("__c")).agg(sum(col("__dc")).as("__dc"))
    (ncw, cls)
  }

  /** Fold [[nbCountsStream]]'s per-batch deltas on both roots. */
  def compactNbCounts(spark: SparkSession, path: String): Unit = {
    // the compactKnCounts overlap for the NB evidence roots
    graft.operators.Par.run(spark, parallelism = 2)(
      () => Levels.fold(spark, s"$path/_ncw", Levels.dedupOn(spark,
        "__c STRING, w STRING, __n LONG, src LONG", Seq("__c", "w", "src"))),
      () => Levels.fold(spark, s"$path/_cls", Levels.dedupOn(spark,
        "__c STRING, __dc LONG, src LONG", Seq("__c", "src"))))
    ()
  }

  /** Streaming dataset card: keep the per-source corpus report
    * ([[graft.operators.CurationOps.datasetCard]]) current as documents
    * arrive, WITHOUT ever rescanning the accumulated corpus. Each
    * micro-batch lands two tiny artifacts under batch-id-derived
    * directories:
    *
    *  - `_sums/__batch=<id>`: the card's summable per-source aggregates
    *    (doc/char/token counts + the fixed-point quality sum), tagged
    *    `src = batchId` — long partial sums fold associatively, so the
    *    merged card is bit-identical to a batch card over the union under
    *    any partitioning (the shingle index's source-tagged-partials
    *    discipline: compaction dedups on (source, src) and never sums,
    *    so a fold-overlap or crash-rerun window cannot double-count);
    *  - `_keys/__batch=<id>`: the batch's DISTINCT (source, kind, key)
    *    rows backing the card's two distinct counts — text sha-256
    *    digests (kind 't') and languages (kind 'l'). Distinct-of-union ==
    *    distinct-of-distincts, so the read-side dedup is exact; the
    *    landing ships digests, not text, and per-batch dedup keeps it at
    *    the batch's novel-key cardinality. (At 100 TB the exact digest
    *    set is the honest cost of an EXACT distinct count — swap kind 't'
    *    for a mergeable HLL sketch sidecar to trade exactness for fixed
    *    size, the [[bloomIndexStream]] shape.)
    *
    * Per-batch cost is O(|batch|) map work + two strata-sized writes; the
    * card itself is assembled at READ time ([[readCard]]) from state that
    * is tiny compared to the corpus. Idempotent via per-batch Overwrite
    * (replay rewrites both artifacts deterministically; no cross-batch
    * read at landing, so every crash point is covered), lineage-guarded
    * like every versioned sink. Re-sending a DOCUMENT in a later batch
    * double-counts the sums (at-least-once sources compose upstream
    * dedup — the shingle-index contract). */
  def cardStream(docs: DataFrame, path: String, checkpoint: String,
      approx: Boolean = false): DataStreamWriter[Row] =
    sink(docs, checkpoint)(cardBatch(_, _, path, approx))

  /** One [[cardStream]] micro-batch (extracted for spec-driven replay).
    * `approx = true` is the 100 TB distinct-count mode: instead of the
    * exact digest rows, each batch lands ONE fixed-size DataSketches HLL
    * sketch per (source, kind) (`_hll/__batch=<id>`). Sketch register
    * states merge associatively and deterministically, so the streamed
    * union is BYTE-EQUIVALENT to a batch-built sketch over the same rows
    * (the bloomIndexStream argument, for cardinality) — per-batch card
    * state becomes O(strata), independent of corpus or batch size. A
    * drifted lgConfigK across restarts fails loudly at read time
    * (hll_union_agg refuses mixed precisions by default — the parameter
    * sidecar contract enforced by the sketch format itself). */
  private[graft] def cardBatch(batch: DataFrame, batchId: Long, path: String,
      approx: Boolean = false): Unit = {
    val s = batch.sparkSession
    val (f, _) = Levels.fs(s, path)
    val keysSub = if (approx) "_hll" else "_keys"
    Seq("_sums", keysSub).foreach { sub =>
      requireBatchLineage(f, new org.apache.hadoop.fs.Path(s"$path/$sub"),
        batchId, "cardStream", s"$path/$sub")
    }
    val sums = graft.operators.CurationOps.cardSumCols
    batch.groupBy(col("source")).agg(sums.head, sums.tail: _*)
      .withColumn("src", lit(batchId))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/_sums/__batch=$batchId")
    val keys = batch
      .select(col("source"), lit("t").as("kind"), sha2(col("text"), 256).as("key"))
      .unionByName(batch.select(col("source"), lit("l").as("kind"), col("lang").as("key")))
      // COUNT(DISTINCT x) ignores NULLs — a null text/lang must not land a
      // countable key row
      .filter(col("key").isNotNull)
    if (approx)
      keys.groupBy(col("source"), col("kind"))
        .agg(expr("hll_sketch_agg(key)").as("sketch"))
        .withColumn("src", lit(batchId))
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/_hll/__batch=$batchId")
    else
      keys.distinct()
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/_keys/__batch=$batchId")
  }

  /** Assemble the current card from a [[cardStream]] landing: merge the
    * per-batch partial sums (one strata-sized aggregation), count the
    * deduped distinct keys, and apply the same mean-quality face as the
    * batch card — the result equals [[graft.operators.CurationOps.datasetCard]]
    * over every document landed so far (oracle-gated by q_stream_card). */
  def readCard(spark: SparkSession, path: String, approx: Boolean = false): DataFrame = {
    val sums = Levels.stateScan(spark, s"$path/_sums",
        "source STRING, n_docs LONG, n_chars LONG, n_tokens LONG, __sum_q4 LONG, src LONG")
      // partial sums dedup on (source, src) before summing — in the
      // fold's crash-overlap window (base installed, folded delta not
      // yet dropped) the same batch partial is visible twice, and a
      // plain sum would double-count it until the fold reruns
      .dropDuplicates(Seq("source", "src"))
      .groupBy(col("source")).agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("__sum_q4")).as("__sum_q4"))
    val keys =
      if (approx)
        // HLL register-max union is idempotent, so the (source, kind, src)
        // dedup only matters for scan size, not correctness — but the fold
        // discipline keeps it anyway (one sketch per batch per stratum)
        Levels.stateScan(spark, s"$path/_hll",
            "source STRING, kind STRING, sketch BINARY, src LONG")
          .dropDuplicates(Seq("source", "kind", "src"))
          .groupBy(col("source"), col("kind"))
          .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))").as("est"))
          .groupBy(col("source")).agg(
            // coalesce INSIDE the pivot too: a source with texts but
            // all-null langs has 't' rows and no 'l' rows — its n_langs
            // must be 0, not null (the exact path's count() gives 0)
            coalesce(max(when(col("kind") === "t", col("est"))), lit(0L))
              .as("n_distinct_texts"),
            coalesce(max(when(col("kind") === "l", col("est"))), lit(0L))
              .as("n_langs"))
      else
        Levels.stateScan(spark, s"$path/_keys",
            "source STRING, kind STRING, key STRING")
          .dropDuplicates(Seq("source", "kind", "key"))
          .groupBy(col("source")).agg(
            count(when(col("kind") === "t", true)).as("n_distinct_texts"),
            count(when(col("kind") === "l", true)).as("n_langs"))
    // left join + coalesce: a source whose every text/lang is NULL lands no
    // key rows at all but must still report zero distincts, not vanish
    graft.operators.CurationOps.cardSelect(
      sums.join(keys, Seq("source"), "left")
        .withColumn("n_distinct_texts", coalesce(col("n_distinct_texts"), lit(0L)))
        .withColumn("n_langs", coalesce(col("n_langs"), lit(0L))))
  }

  /** Fold the card state's per-batch deltas — the shared staged-rename
    * fold on every sub-sink present: sums dedup on (source, src)
    * (source-tagged partials are idempotent under rerun where a summing
    * fold would double-count), exact keys on their full identity, HLL
    * sketches on (source, kind, src) (identical rows in any overlap
    * window — and over-merging would be harmless anyway, HLL union is
    * idempotent). Newest-delta protection and crash-leftover recovery
    * come with [[Levels.fold]]. */
  def compactCardState(spark: SparkSession, path: String): Unit = {
    Levels.fold(spark, s"$path/_sums", Levels.dedupOn(spark,
      "source STRING, n_docs LONG, n_chars LONG, n_tokens LONG, __sum_q4 LONG, src LONG",
      Seq("source", "src")))
    Levels.fold(spark, s"$path/_keys", Levels.dedupOn(spark,
      "source STRING, kind STRING, key STRING", Seq("source", "kind", "key")))
    Levels.fold(spark, s"$path/_hll", Levels.dedupOn(spark,
      "source STRING, kind STRING, sketch BINARY, src LONG", Seq("source", "kind", "src")))
  }

  /** Streaming MULTIMODAL release report — [[cardStream]]'s media twin
    * ([[graft.operators.MultimodalOps.mediaCard]] kept current without
    * re-scanning history): each micro-batch lands slim per-batch evidence
    * under batch-id-derived directories and the card assembles at READ
    * time ([[readMediaCard]]) from state that is tiny next to the
    * payloads:
    *
    *  - `_phidx/__batch=<id>`: the batch's banded frame hashes — the
    *    maintained [[phashIndexStream]] layout (meta-pinned), landed
    *    FIRST so the batch's own pair probe and every later batch's see
    *    one consistent corpus;
    *  - `_sums/__batch=<id>`: summable per-source tallies (media, bytes,
    *    frames, total chunks), `src = batchId`-tagged like the text
    *    card's partials (dedup-foldable, never double-counted);
    *  - `_chunkkeys/__batch=<id>`: the batch's DISTINCT (source, addr)
    *    chunk addresses (distinct-of-distincts == distinct-of-union);
    *  - `_media/__batch=<id>`: (media_id, source) — the attribution face
    *    a cross-batch pair's CORPUS endpoint needs (the index stores
    *    hashes, not sources);
    *  - `_dup/__batch=<id>`: media ids newly observed in a
    *    ≥ `minFrames` near-dup pair. Each unordered media pair's full
    *    frame-pair set is visible exactly when its LATER member lands
    *    (the index already holds every earlier frame, and the batch's
    *    own level covers batch-internal pairs), so the union of per-batch
    *    endpoint sets equals the batch card's cluster mass — no read-time
    *    self-join over the accumulated index, ever.
    *
    * Idempotent via per-batch Overwrite (hashes/addresses deterministic
    * given batch contents; the pair probe reads levels <= batchId, which
    * a replay sees identically), lineage-guarded per sub-root.
    * Re-sending a media id double-counts the sums (at-least-once sources
    * compose upstream dedup — the cardStream contract). Fold the
    * accumulated deltas with [[compactMediaCardState]].
    *
    * Compliance note (deliberate, shared with [[cardStream]]): card
    * state is a LOSSY aggregate — the distinct-key faces (`_chunkkeys`
    * here, `_keys` there) collapse attribution by design, so an exact
    * in-place forget is impossible from the state plus the forgotten
    * payloads alone (a chunk address contributed by both a forgotten and
    * a surviving media of the same source is indistinguishable from an
    * exclusively-forgotten one). A compliance pass REBUILDS the card
    * over the surviving corpus — reports are derived artifacts, and the
    * ForgetOps faces cover every artifact content is served from. */
  def mediaCardStream(docs: DataFrame, path: String, checkpoint: String,
      fps: Int = 4, k: Int = 8, maxDist: Int = 3, minFrames: Int = 2,
      w: Int = 8, divisor: Int = 16, nBuckets: Int = 64): DataStreamWriter[Row] =
    sink(docs, checkpoint)(mediaCardBatch(_, _, path, fps, k, maxDist, minFrames,
      w, divisor, nBuckets))

  /** One [[mediaCardStream]] micro-batch (extracted for spec-driven
    * replay/crash orderings). */
  private[graft] def mediaCardBatch(batch: DataFrame, batchId: Long,
      path: String, fps: Int, k: Int, maxDist: Int, minFrames: Int,
      w: Int, divisor: Int, nBuckets: Int): Unit = {
    import graft.operators.MultimodalOps
    val s = batch.sparkSession
    val (f, _) = Levels.fs(s, path)
    Seq("_sums", "_chunkkeys", "_media", "_dup").foreach { sub =>
      requireBatchLineage(f, new org.apache.hadoop.fs.Path(s"$path/$sub"),
        batchId, "mediaCardStream", s"$path/$sub")
    }
    // one media frame, five consumers — pin it (the curatedBatch shape)
    val media = MultimodalOps.mediaWithSource(batch).localCheckpoint(true)
    // the CDC chunk rows feed TWO landings (the sums join and the
    // distinct-address face) — pin them once instead of re-chunking the
    // batch's payload bytes per consumer
    val chunkRows = MultimodalOps.mediaChunkRows(media, w, divisor)
      .select(col("source"), col("addr")).localCheckpoint(true)
    // four landings, DISJOINT roots, all reading only the two pins and
    // prior-batch state — overlap them (optimization guide §2.6,
    // operators.Par; the batch stays the sink's single mutator). The
    // frame-index chain keeps its internal order: phashBatch guards its
    // own lineage + meta and must land BEFORE the pair probe, which
    // reads the index root (levels <= batchId) so this batch's own
    // frames (batch-internal pairs) sit beside the accumulated corpus.
    val landings = Seq[() => Unit](
      () => {
        phashBatch(media, batchId, s"$path/_phidx", fps, k, nBuckets)
        // the lean no-alignment arm: the card needs endpoint ids only
        MultimodalOps.mediaPhashDupsIndexed(media, s"$path/_phidx",
            fps, k, maxDist, minFrames, nBuckets, alignment = false)
          .select(explode(array(col("media_new"), col("media_corpus")))
            .as("media_id"))
          .distinct()
          .coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$path/_dup/__batch=$batchId")
      },
      () => MultimodalOps.mediaByteSums(media, k)
        .join(chunkRows.groupBy(col("source")).agg(count(lit(1)).as("n_chunks")),
          Seq("source"), "left")
        .withColumn("n_chunks", coalesce(col("n_chunks"), lit(0L)))
        .withColumn("src", lit(batchId))
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/_sums/__batch=$batchId"),
      () => chunkRows.select(col("source"), col("addr")).distinct()
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/_chunkkeys/__batch=$batchId"),
      () => media.select(col("media_id"), col("source"))
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/_media/__batch=$batchId"))
    graft.operators.Par.run(s, parallelism = 4)(landings: _*)
    ()
  }

  /** Assemble the current media card from a [[mediaCardStream]] landing —
    * equals [[graft.operators.MultimodalOps.mediaCard]] over every
    * document landed so far (the g_media_card oracle, shared): merged
    * source-tagged sums, distinct-of-distincts chunk addresses, and the
    * accumulated dup-endpoint ids attributed through the `_media` face. */
  def readMediaCard(spark: SparkSession, path: String): DataFrame = {
    val sums = Levels.stateScan(spark, s"$path/_sums",
        "source STRING, n_media LONG, n_bytes LONG, n_frames LONG, " +
          "n_chunks LONG, src LONG")
      .dropDuplicates(Seq("source", "src"))
      .groupBy(col("source")).agg(
        sum(col("n_media")).as("n_media"),
        sum(col("n_bytes")).as("n_bytes"),
        sum(col("n_frames")).as("n_frames"),
        sum(col("n_chunks")).as("n_chunks"))
    val dchunks = Levels.stateScan(spark, s"$path/_chunkkeys",
        "source STRING, addr STRING")
      .dropDuplicates(Seq("source", "addr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_distinct_chunks"))
    val mass = Levels.stateScan(spark, s"$path/_dup", "media_id LONG")
      .dropDuplicates(Seq("media_id"))
      .join(Levels.stateScan(spark, s"$path/_media", "media_id LONG, source STRING")
        .dropDuplicates(Seq("media_id")), Seq("media_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_phash_clustered"))
    graft.operators.MultimodalOps.mediaCardSelect(
      sums.join(dchunks, Seq("source"), "left")
        .join(mass, Seq("source"), "left")
        // n_chunks is already zero-coalesced per batch; the final face
        // re-coalesces harmlessly
        )
  }

  /** Fold the media-card state's per-batch deltas — the shared
    * staged-rename fold on every sub-sink: sums dedup on (source, src)
    * (source-tagged partials — a summing fold would double-count on
    * rerun), the key/id faces on their full identity, and the frame
    * index through [[compactPhashIndex]]. */
  def compactMediaCardState(spark: SparkSession, path: String): Unit = {
    Levels.fold(spark, s"$path/_sums", Levels.dedupOn(spark,
      "source STRING, n_media LONG, n_bytes LONG, n_frames LONG, " +
        "n_chunks LONG, src LONG", Seq("source", "src")))
    Levels.fold(spark, s"$path/_chunkkeys", Levels.dedupOn(spark,
      "source STRING, addr STRING", Seq("source", "addr")))
    Levels.fold(spark, s"$path/_media", Levels.dedupOn(spark,
      "media_id LONG, source STRING", Seq("media_id", "source")))
    Levels.fold(spark, s"$path/_dup", Levels.dedupOn(spark, "media_id LONG", Seq("media_id")))
    compactPhashIndex(spark, s"$path/_phidx")
  }

  private val topkStateDDL =
    "state STRUCT<sketch: BINARY, maxItemsTracked: INT, itemDataType: STRING, " +
      "itemDataTypeDDL: STRING>, src LONG"

  /** Streaming heavy-hitter maintenance — the frequent-items twin of the
    * Bloom/HLL accumulator sinks: each micro-batch folds its OWN tokens
    * into one fixed-size DataSketches frequent-items state
    * (`approx_top_k_accumulate` — map-side-combined, `maxTracked` slots
    * regardless of batch size) and lands it at `path/__batch=<id>`.
    * [[readTopK]] combines every level and estimates — while the live
    * vocabulary fits the tracked slots the merged estimate is EXACT (the
    * [[graft.operators.TextOps.tokenHeavyHitters]] contract, which is
    * what the q_stream_topk oracle certifies); beyond it the same state
    * degrades to guaranteed-error heavy hitters. Unlike the Bloom OR and
    * HLL register-max, frequent-items merge is COUNT-BASED — merging the
    * same state twice double-counts — so the discipline that was
    * belt-and-suspenders for the idempotent sketches is load-bearing
    * here: per-batch Overwrite idempotence, the (src)-keyed fold that
    * dedups and NEVER re-merges, and the newest-delta protection. The
    * `_meta.json` sidecar (written before the first landing) pins
    * `maxTracked`: a drifted restart fails at the batch rather than
    * silently changing the exactness budget mid-index. */
  def topkStream(docs: DataFrame, path: String, checkpoint: String,
      maxTracked: Int = 1024, textCol: String = "text"): DataStreamWriter[Row] =
    sink(docs, checkpoint)(topkBatch(_, _, path, maxTracked, textCol))

  /** One [[topkStream]] micro-batch (extracted for spec-driven replay). */
  private[graft] def topkBatch(batch: DataFrame, batchId: Long, path: String,
      maxTracked: Int, textCol: String = "text"): Unit = {
    val s = batch.sparkSession
    val (f, p) = Levels.fs(s, path)
    requireBatchLineage(f, p, batchId, "topkStream", path)
    Levels.pin(s, path, Seq("maxTracked" -> maxTracked.toLong), "batch")(bad =>
      s"topkStream: maxTracked disagrees with the index at $path " +
        s"(${bad.map(_.stripPrefix("maxTracked: ")).mkString}) — states merge " +
        "count-based under one slot budget; restart with the index's " +
        "parameter or rebuild it")
    batch
      // NO coalesce: tokenHeavyHitters (and the oracle's string_split on
      // NULL) drop null-text rows entirely — a coalesce would land one
      // phantom "" token per null doc and break the streamed == batch
      // sketch identity
      .select(explode(graft.functions.TextFns.tokens(col(textCol))).as("tok"))
      .agg(expr(s"approx_top_k_accumulate(tok, $maxTracked)").as("state"))
      .withColumn("src", lit(batchId))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/__batch=$batchId")
  }

  /** Combine every landed frequent-items state and cut the deterministic
    * top-k (count desc, token asc — over the FULL tracked slice, the
    * [[graft.operators.TextOps.tokenHeavyHitters]] tie discipline).
    * `maxTracked` comes from the index's own sidecar. */
  def readTopK(spark: SparkSession, path: String, k: Int): DataFrame = {
    val text = graft.operators.ParamMeta.readText(spark, path)
    require(text.isDefined, s"no _meta.json under $path — nothing has landed")
    val maxTracked = graft.operators.ParamMeta.field(text.get, "maxTracked")
      .map(_.toInt)
      .getOrElse(sys.error(s"malformed _meta.json under $path"))
    Levels.stateScan(spark, path, topkStateDDL)
      // one state per batch: identical rows in a fold-overlap window, and
      // frequent-items merge double-counts — dedup is load-bearing
      .dropDuplicates(Seq("src"))
      .agg(expr(
        s"approx_top_k_estimate(approx_top_k_combine(state, $maxTracked), $maxTracked)")
        .as("e"))
      .select(explode(col("e")).as("x"))
      .select(col("x.item").as("tok"), col("x.count").as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)
  }

  /** Fold the per-batch frequent-items states — dedup on the batch tag,
    * NEVER re-merge (count-based states double-count under re-merge; the
    * merge stays [[readTopK]]'s job, exactly the shingle-index
    * source-tagged-partials rule). Newest-delta protection and
    * crash-leftover recovery come with [[Levels.fold]]. */
  def compactTopkState(spark: SparkSession, path: String): Unit =
    Levels.fold(spark, path, Levels.dedupOn(spark, topkStateDDL, Seq("src")))

  /** Streaming EXACT quantiles: maintain a per-(group, value) count
    * histogram as an accumulator sink — for bounded-domain values
    * (lengths, token counts, byte sizes) the histogram IS a lossless
    * summary of the value multiset, so rank selection over the merged
    * counts reproduces the exact quantile at any fraction with state
    * O(groups × distinct values), never O(rows). The streaming twin of
    * [[graft.operators.CurationOps.exactQuantiles]] (which needs the raw
    * rows for its boundary-bucket window; at bucket width 1 the counts
    * alone suffice — this sink exploits exactly that) and the exact
    * counterpart of the GK-sketch gate. Counts are source-tagged
    * summable partials: the fold dedups on (group, value, src), never
    * sums — the shingle-index discipline. */
  def quantileStream(docs: DataFrame, path: String, checkpoint: String,
      groupCol: String = "lang", valueCol: String = "n_chars"): DataStreamWriter[Row] =
    sink(docs, checkpoint)(quantileBatch(_, _, path, groupCol, valueCol))

  /** One [[quantileStream]] micro-batch (extracted for spec-driven replay). */
  private[graft] def quantileBatch(batch: DataFrame, batchId: Long, path: String,
      groupCol: String = "lang", valueCol: String = "n_chars"): Unit = {
    val s = batch.sparkSession
    val (f, p) = Levels.fs(s, path)
    requireBatchLineage(f, p, batchId, "quantileStream", path)
    batch.groupBy(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("src", lit(batchId))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/__batch=$batchId")
  }

  /** Exact rank selection over the merged histogram: value at rank
    * `ceil(p·n)` (1-indexed) in value order per group — the
    * [[graft.operators.CurationOps.exactQuantiles]] definition, computed
    * entirely on the counts frame (groups × distinct values rows). */
  def readQuantiles(spark: SparkSession, path: String, ps: Seq[Double],
      groupCol: String = "lang"): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0), "ps in (0, 1]")
    val merged = Levels.stateScan(spark, path, "g STRING, v LONG, cnt LONG, src LONG")
      .dropDuplicates(Seq("g", "v", "src"))
      .groupBy(col("g"), col("v")).agg(sum(col("cnt")).as("cnt"))
    // exact values are the histogram keys, so the located key IS the
    // quantile — the rank-selection core is shared with exactQuantiles
    graft.operators.CurationOps.pivotByFraction(
        graft.operators.CurationOps.rankLocate(merged, ps, "g", "v", "cnt"),
        ps, "g", "v")
      .withColumnRenamed("g", groupCol)
  }

  /** Fold the histogram's per-batch deltas — dedup on (g, v, src), never
    * sum (source-tagged partials; a summing fold would double-count in
    * the crash-rerun window). */
  def compactQuantileState(spark: SparkSession, path: String): Unit =
    Levels.fold(spark, path, Levels.dedupOn(spark,
      "g STRING, v LONG, cnt LONG, src LONG", Seq("g", "v", "src")))

  /** Token-budget-capped streaming ingest: admit arriving documents until
    * the stream's LIFETIME admitted-token total covers `budgetTokens`,
    * then stop — "collect a 50B-token corpus from the crawl and not a
    * byte more", as a sink. Within each micro-batch admission follows the
    * deterministic [[graft.operators.CurationOps.tokenBudgetSample]]
    * permutation order (so the single-batch case IS the batch operator —
    * the q_stream_budget oracle); across batches the frontier is the
    * accumulated total of the PRIOR batches' admissions, carried by a
    * one-long-per-batch `_totals/__batch=<id>` sidecar — reading the
    * totals is O(batches), never O(corpus), and compaction keeps batch
    * count small.
    *
    * Idempotent the established way: the frontier read takes
    * `__batch < batchId` only, both writes are batch-id-derived
    * Overwrite, so a checkpoint-replayed batch sees the exact frontier
    * the crashed attempt saw and recomputes the same admissions at any
    * crash point. A totals row lands even for a zero-admission batch —
    * the frontier (and the lineage guard) must see every committed
    * batch. */
  def budgetIngest(docs: DataFrame, outDir: String, checkpoint: String,
      budgetTokens: Long, seed: Long = 0L, nRanges: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataStreamWriter[Row] =
    sink(docs, checkpoint)(budgetBatch(_, _, outDir, budgetTokens, seed, nRanges, idCol, textCol))

  /** One [[budgetIngest]] micro-batch (extracted for spec-driven replay). */
  private[graft] def budgetBatch(batch: DataFrame, batchId: Long, outDir: String,
      budgetTokens: Long, seed: Long, nRanges: Int,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val s = batch.sparkSession
    val (f, totalsP) = Levels.fs(s, s"$outDir/_totals")
    Seq("docs", "_totals").foreach { sub =>
      requireBatchLineage(f, new org.apache.hadoop.fs.Path(s"$outDir/$sub"),
        batchId, "budgetIngest", s"$outDir/$sub")
    }
    // the admission frontier: prior batches' admitted-token totals only
    // (strictly below this id — the crashed attempt's own partial writes
    // are invisible to its replay). Totals rows carry their admitting
    // batch as `src`, so the prior-batch filter is on the ROW tag, not
    // the directory name, and the read is exact in BOTH of
    // Levels.fold's crash windows: the overlap window (base installed,
    // folded delta not yet dropped) shows the same total twice — the
    // dropDuplicates("src") collapses it; the hide window (old base
    // retired, staging not yet installed) shows it only inside a
    // _compacting/_retired leftover — those are unioned in. Unlike the
    // sibling accumulator readers a wrong value here is PERSISTED into
    // admissions, so this read may not merely self-heal after recovery.
    val prior: Long =
      if (!f.exists(totalsP)) 0L
      else Levels.stateScan(s, s"$outDir/_totals", "admitted_tokens LONG, src LONG")
        .dropDuplicates("src")
        .filter(col("src") < batchId)
        .agg(coalesce(sum(col("admitted_tokens")), lit(0L))).head().getLong(0)
    val remaining = math.max(0L, budgetTokens - prior)
    val kept = graft.operators.Checkpoints.pin(
      graft.operators.CurationOps.tokenBudgetSample(
        batch, remaining, seed, nRanges, idCol, textCol), reliable = false)
    kept.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/docs/__batch=$batchId")
    // src tags the row with its batch so the compaction fold can dedup on
    // identity — two batches admitting the same token count are otherwise
    // indistinguishable rows, and a dedup would silently shrink the
    // frontier sum
    kept.agg(coalesce(sum(col("n_tokens")), lit(0L)).as("admitted_tokens"))
      .withColumn("src", lit(batchId))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/_totals/__batch=$batchId")
  }

  /** Fold the budget sink's per-batch deltas — closes the
    * one-file-per-batch pile a long-running stream accumulates (the
    * frontier read lists O(batches) directories). Totals dedup on their
    * batch tag (never summed — the fold-overlap/crash-rerun rule); docs
    * on doc_id (each doc lands in exactly one batch). The folded base at
    * `__batch=-1` stays inside every frontier read's `__batch < id`
    * filter, so the admitted-token sum is preserved exactly; the newest
    * (replayable) delta is protected as everywhere. */
  def compactBudgetState(spark: SparkSession, outDir: String): Unit = {
    Levels.fold(spark, s"$outDir/_totals", Levels.dedupOn(spark,
      "admitted_tokens LONG, src LONG", Seq("src")))
    Levels.fold(spark, s"$outDir/docs", Levels.dedupOn(spark,
      "doc_id LONG, sort_key LONG, n_tokens LONG", Seq("doc_id")))
  }

  /** The full streaming dedup-clustering loop — the daily-crawl
    * composition, one micro-batch at a time:
    *
    *  1. WITHIN-batch near-dup pairs via the banded MinHash self-join
    *     ([[graft.operators.DedupOps.minHashNearDups]] — the batch is the
    *     small side, its self-join is cheap);
    *  2. CROSS pairs against the ACCUMULATED corpus via the standing
    *     (band, bucket)-partitioned LSH index
    *     ([[graft.operators.DedupOps.minHashNearDupsIndexed]] — the
    *     corpus is never re-signed or self-joined; both paths share the
    *     bandsig-equality collision criterion, so pairs found across
    *     batches are exactly the pairs a single-batch run would find);
    *  3. both pair lists fold into the standing cluster assignment with
    *     [[graft.operators.DedupOps.nearDupClustersIncremental]] — per
    *     batch the shuffle is O(|assignment| + |new pairs|), never
    *     O(|all pairs ever|);
    *  4. the batch's PAIR DELTA (small — this batch's pairs only) lands
    *     at `_pairs/__batch=<id>`, its docs under `docs/__batch=<id>`,
    *     its signatures append to the LSH index (`_lsh/__batch=<id>`,
    *     the [[lshIndexStream]] landing — lineage guard + `_meta.json`
    *     sidecar included), and every `assignEvery` batches the folded
    *     FULL assignment checkpoints at `_assign/__batch=<id>`.
    *
    * Per-batch write cost is O(|batch| + |new pairs|); the O(|all paired
    * docs|) assignment rewrite is paid only at the checkpoint cadence —
    * at high-frequency micro-batches set `assignEvery` so the assignment
    * fold amortizes (consumers read the live state with
    * [[currentAssignment]], which folds the pair deltas above the newest
    * checkpoint on demand; `assignEvery = 1` checkpoints every batch).
    *
    * Idempotent the [[curatedIngest]] way: every write is batch-id-derived
    * Overwrite and every read of accumulated state takes `__batch <
    * batchId` (docs, assignment versions, pair deltas), so a
    * checkpoint-replayed batch sees the exact state the crashed attempt
    * saw, recomputes the same pairs and assignment, and overwrites its
    * own partial output — at any crash point between the writes.
    * Assignment versions below the replay frontier are dead and pair
    * deltas at or below it are folded in — [[vacuumClusterState]]
    * reclaims both; docs/LSH deltas fold with the usual maintenance
    * ([[compactLshIndex]] for the index).
    *
    * The assignment covers PAIRED docs (the clustering operators'
    * contract); unpaired docs are implicitly their own cluster. Spec pins
    * multi-batch == single-batch recompute row-level (at checkpoint
    * cadences 1 and 2), replay idempotence, and the lineage guard. */
  def clusterIngest(docs: DataFrame, outDir: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, nHashes: Int = 16, bands: Int = 4,
      nBuckets: Int = 64, threshold: Double = 0.5,
      assignEvery: Int = 1, nDocBuckets: Int = 64): DataStreamWriter[Row] =
    sink(docs, checkpoint)(clusterBatch(_, _, outDir, idCol, textCol,
      shingleK, nHashes, bands, nBuckets, threshold, assignEvery, nDocBuckets))

  /** One [[clusterIngest]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def clusterBatch(batch: DataFrame, batchId: Long, outDir: String,
      idCol: String, textCol: String, shingleK: Int, nHashes: Int,
      bands: Int, nBuckets: Int, threshold: Double,
      assignEvery: Int = 1, nDocBuckets: Int = 64): Unit = {
    require(assignEvery >= 1, "assignEvery must be >= 1")
    val s = batch.sparkSession
    val docsDir = s"$outDir/docs"
    val lshDir = s"$outDir/_lsh"
    val (f, docsPath) = Levels.fs(s, docsDir)
    // one guard per root the batch writes, BEFORE any landing: _pairs
    // lands first, then _assign (conditionally), then _lsh (lshBatch
    // re-guards its own root, harmlessly), then docs — a crash after any
    // prefix leaves the earlier roots ahead of the later ones, so every
    // root must refuse a foreign checkpoint on its own evidence
    Seq(s"$outDir/_pairs", s"$outDir/_assign", lshDir, docsDir).foreach { r =>
      requireBatchLineage(f, new org.apache.hadoop.fs.Path(r), batchId,
        "clusterIngest", r)
    }
    // both accumulated stores this step READS to compute pairs it will
    // PERSIST must be healed of any crashed-fold leftovers first: a
    // hidden docs base drops the rescore's corpus text (cross pairs
    // silently lost from the durable pair delta), a hidden LSH base
    // drops the collision candidates themselves
    Levels.healFoldLeftovers(s, docsDir, clusterDocsFold(s, idCol, textCol))
    Levels.healFoldLeftovers(s, lshDir, lshFold(s))
    // the db bucketing is a pruning contract like the LSH banding: a
    // restart probing with a different nDocBuckets would silently read
    // the wrong directories and DROP cross pairs — record the parameter
    // before the first data landing (sidecar-first, the round-10 crash
    // -window lesson) and refuse a drifted restart
    Levels.pin(s, docsDir, Seq("nDocBuckets" -> nDocBuckets.toLong),
        file = "_db_meta.json")(_ =>
      s"clusterIngest: docs landing at $docsDir is bucketed with nDocBuckets=" +
        graft.operators.ParamMeta.readText(s, docsDir, "_db_meta.json")
          .flatMap(graft.operators.ParamMeta.field(_, "nDocBuckets")).getOrElse(-1L) +
        s" but this run uses $nDocBuckets — " +
        "restart with the landing's parameter or use a fresh directory")
    // the batch feeds three derivations — pin it once
    val b = batch.select(col(idCol), col(textCol)).localCheckpoint(true)
    // the docs landing is hive-partitioned by a doc-id bucket, so the
    // exact-Jaccard rescore reads ONLY the candidate docs' directories
    // (the bounded touched-bucket pattern of curatedIngest) — per batch
    // the corpus text scan is O(candidate buckets), never O(corpus)
    val corpusFor: Seq[Int] => DataFrame = buckets =>
      s.read.schema(s"$idCol LONG, $textCol STRING, db INT, __batch LONG")
        .option("basePath", docsDir).parquet(docsDir)
        .filter(col("__batch") < batchId && col("db").isin(buckets: _*))
        .select(col(idCol), col(textCol))
    // a corpus exists only once a batch has LANDED data — the sidecar
    // alone (written above, possibly this very batch) creates the dir
    val corpusExists = Levels.ids(f, docsPath).nonEmpty
    // the batch's SELF pairs and its index CROSS pairs are independent
    // eager chains over the pinned batch (each ends in a candidate pin;
    // the cross probe also collects its touched buckets) — derive them
    // concurrently (optimization guide §2.6, operators.Par). Both read
    // only the pinned batch plus PRIOR-batch state (__batch < batchId),
    // which nothing below mutates until the pair pin settles.
    val pairSets = graft.operators.Par.run(s, parallelism = 2)(
      () => graft.operators.DedupOps
        .minHashNearDups(b, idCol, textCol, shingleK, nHashes, bands, threshold)
        .select("id1", "id2"),
      () => if (corpusExists)
          graft.operators.DedupOps.minHashNearDupsIndexedPruned(
              b, corpusFor, lshDir, idCol, textCol, shingleK, nHashes, bands,
              nBuckets, threshold, nDocBuckets)
            .select(col("new_id").as("id1"), col("corpus_id").as("id2"))
        else null)
    val selfPairs = pairSets(0)
    val crossPairs = Option(pairSets(1)).getOrElse(selfPairs.limit(0))
    val pairs = selfPairs.unionByName(crossPairs).localCheckpoint(true)
    // the four landings are independent write chains against DISJOINT
    // roots — overlap them too: the assignment reads the PINNED pair
    // frame plus on-disk deltas strictly BELOW this batch (the listing
    // filter excludes the concurrent _pairs landing), and lsh/docs read
    // only the pinned batch. The crash contract is unchanged in kind:
    // every root was guarded upfront on its own evidence, every landing
    // is an idempotent Overwrite of __batch=<this batch>, so ANY crash
    // prefix — now any crash INTERLEAVING — converges on replay (the
    // spec-driven recovery).
    val landings = Seq[Option[() => Unit]](
      Some(() => pairs.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$outDir/_pairs/__batch=$batchId")),
      if (batchId % assignEvery == 0) Some(() => {
        val (prior, priorVersion) = latestAssignment(s, outDir, batchId)
        val gapDeltas = pairDeltas(s, outDir,
          sinceExclusive = priorVersion, untilExclusive = batchId)
        // default partitioning, not coalesce(1): the assignment (paired
        // docs) can be corpus-sized in the worst case, and a version
        // directory is the read unit anyway
        graft.operators.DedupOps
          .nearDupClustersIncremental(prior, gapDeltas.unionByName(pairs))
          .localCheckpoint(true)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$outDir/_assign/__batch=$batchId")
      }) else None,
      Some(() => lshBatch(b, batchId, lshDir, idCol, textCol, shingleK,
        nHashes, bands, nBuckets)),
      // co-locate each bucket into one task before partitionBy (the
      // writeMinHashIndex small-file discipline): files per batch ==
      // buckets present, not tasks x buckets
      Some(() => b
        .withColumn("db", pmod(col(idCol), lit(nDocBuckets.toLong)).cast("int"))
        .repartition(col("db"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("db").parquet(s"$docsDir/__batch=$batchId"))
    ).flatten
    graft.operators.Par.run(s, parallelism = 4)(landings: _*)
    ()
  }

  /** The LIVE cluster assignment of a [[clusterIngest]] sink: the newest
    * checkpointed version with every pair delta above it folded in —
    * exactly the state the next checkpoint write would persist. Cheap
    * when `assignEvery` is moderate (the fold sees at most
    * `assignEvery - 1` small deltas). */
  def currentAssignment(spark: SparkSession, outDir: String): DataFrame = {
    val (base, version) = latestAssignment(spark, outDir, Long.MaxValue)
    val deltas = pairDeltas(spark, outDir,
      sinceExclusive = version, untilExclusive = Long.MaxValue)
    graft.operators.DedupOps.nearDupClustersIncremental(base, deltas)
  }

  /** Fold a [[clusterIngest]] sink's per-batch docs deltas into the
    * `__batch=-1` base, preserving the `db` bucket layout (the rescore's
    * pruning key) and the newest delta (the only one a checkpoint replay
    * can re-read — the [[compactLshIndex]] contract). One file per
    * `db` directory by construction. Completes the sink's maintenance
    * trio: docs here, signatures via [[compactLshIndex]],
    * assignment/pair state via [[vacuumClusterState]]. */
  def compactClusterDocs(spark: SparkSession, outDir: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    Levels.fold(spark, s"$outDir/docs", clusterDocsFold(spark, idCol, textCol))

  private def clusterDocsFold(spark: SparkSession, idCol: String, textCol: String) =
    Levels.dedupOn(spark, s"$idCol LONG, $textCol STRING, db INT", Seq(idCol), Seq("db"))

  /** Reclaim the dead state of a [[clusterIngest]] sink. Only the newest
    * batch `N` can ever replay (Structured Streaming commits batch `N-1`
    * before starting `N`), and a replay of `N` reads exactly: the newest
    * assignment version strictly below `N` (the frontier `F`) and the
    * pair deltas in `(F, N)`. [[currentAssignment]] reads the newest
    * version and the deltas above it — always at or above `F`. So
    * assignment versions `< F` are unreachable and pair deltas `<= F`
    * are folded into every reachable version: both are deleted here.
    * Run between batches (same single-maintainer contract as
    * [[compactLshIndex]]); a crash mid-vacuum just leaves some dead
    * directories for the next run. */
  def vacuumClusterState(spark: SparkSession, outDir: String): Unit = {
    val (assign, pairs) = (s"$outDir/_assign", s"$outDir/_pairs")
    val (f, _) = Levels.fs(spark, outDir)
    def drop(root: String, keep: Long => Boolean): Unit =
      Levels.ids(spark, root).filterNot(keep).foreach(v =>
        f.delete(new org.apache.hadoop.fs.Path(Levels.dir(root, v)), true): Unit)
    // pairs land every batch, so the newest pair delta IS the newest batch
    val frontier = Levels.ids(spark, pairs).lastOption.flatMap(n =>
      Levels.ids(spark, assign).filter(_ < n).lastOption)
    frontier.foreach { fr =>
      drop(assign, _ >= fr)
      drop(pairs, _ > fr)
    }
  }

  /** Newest assignment version strictly below `batchId` (the replay-safe
    * frontier) with its version id, or (empty, -1) when none exists. */
  private def latestAssignment(spark: SparkSession, outDir: String,
      batchId: Long): (DataFrame, Long) = {
    val ddl = "doc_id LONG, cluster_id LONG"
    Levels.ids(spark, s"$outDir/_assign").filter(_ < batchId).lastOption match {
      case Some(v) => (spark.read.schema(ddl).parquet(Levels.dir(s"$outDir/_assign", v)), v)
      case None => (empty(spark, ddl), -1L)
    }
  }

  /** Union of the pair deltas with `sinceExclusive < id < untilExclusive`
    * (empty frame when none exist). */
  private def pairDeltas(spark: SparkSession, outDir: String,
      sinceExclusive: Long, untilExclusive: Long): DataFrame = {
    val dirs = Levels.ids(spark, s"$outDir/_pairs")
      .filter(v => v > sinceExclusive && v < untilExclusive)
    if (dirs.isEmpty) empty(spark, "id1 LONG, id2 LONG")
    else spark.read.schema("id1 LONG, id2 LONG")
      .parquet(dirs.map(Levels.dir(s"$outDir/_pairs", _)): _*)
  }

  /** Streaming Bloom-sidecar maintenance — the membership-summary twin of
    * the other versioned index sinks, and the cheapest of them: each
    * micro-batch builds the Bloom sketch of its OWN documents' content
    * digests (one map-side-combined aggregate —
    * [[graft.operators.DedupOps.corpusDigestBloom]]) and lands the
    * serialized bytes at `path/__batch=<id>/bloom.bin`. Probes OR-merge
    * every level ([[readMergedBloom]]) — bitwise OR is exactly what
    * putting the union would have set, so a streamed corpus sketches
    * BYTE-IDENTICALLY to a batch-built one (spec-pinned) — and feed the
    * result straight into
    * [[graft.operators.DedupOps.incrementalExactBloom]]'s `sketch`
    * argument: the corpus is never re-signed per increment.
    *
    * Idempotent via per-batch Overwrite (sketch bytes are deterministic
    * given batch contents); the `_meta.json` sidecar pins (expectedItems,
    * fpp) — sketches with different sizing DO NOT MERGE (the underlying
    * filter rejects incompatible bit arrays), so a drifted restart fails
    * at the batch, not at some later probe. Fold deltas with
    * [[compactBloomIndex]]; all sketch handling is bounded driver state
    * (sketch bytes × batch levels, and compaction keeps levels small). */
  def bloomIndexStream(docs: DataFrame, path: String, checkpoint: String,
      textCol: String = "text",
      expectedItems: Long = 1L << 22, fpp: Double = 0.01): DataStreamWriter[Row] =
    sink(docs, checkpoint)(bloomBatch(_, _, path, textCol, expectedItems, fpp))

  /** One [[bloomIndexStream]] micro-batch (extracted so specs can drive
    * replay/crash orderings directly). */
  private[graft] def bloomBatch(batch: DataFrame, batchId: Long, path: String,
      textCol: String, expectedItems: Long, fpp: Double): Unit = {
    val s = batch.sparkSession
    val (f, p) = Levels.fs(s, path)
    requireBatchLineage(f, p, batchId, "bloomIndexStream", path)
    Levels.pin(s, path, bloomFields(expectedItems, fpp), "batch")(bad =>
      s"bloom-sidecar sizing disagrees with the index at $path " +
        s"(${bad.mkString(", ")}) — differently-sized sketches do not " +
        "merge; restart with the index's parameters or rebuild it")
    val bytes = graft.operators.DedupOps.corpusDigestBloom(
      batch, textCol, expectedItems, fpp)
    writeFile(f, new org.apache.hadoop.fs.Path(s"$path/__batch=$batchId/bloom.bin"), bytes)
  }

  /** Bootstrap the sidecar from an existing corpus (`__batch=-1`). */
  def bloomIndexBase(corpus: DataFrame, path: String, textCol: String = "text",
      expectedItems: Long = 1L << 22, fpp: Double = 0.01): Unit = {
    val s = corpus.sparkSession
    val (f, _) = Levels.fs(s, path)
    val dir = Levels.newBase(s, path, "bloomIndexBase")
    graft.operators.ParamMeta.write(s, path, bloomFields(expectedItems, fpp))
    val bytes = graft.operators.DedupOps.corpusDigestBloom(
      corpus, textCol, expectedItems, fpp)
    writeFile(f, new org.apache.hadoop.fs.Path(dir, "bloom.bin"), bytes)
  }

  private def bloomFields(expectedItems: Long, fpp: Double) =
    Seq("expectedItems" -> expectedItems, "fppMicros" -> math.round(fpp * 1e6))

  private def bloomBytes(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** OR-merge of every landed sketch level — the corpus membership
    * summary as of the last committed batch, ready for
    * incrementalExactBloom's `sketch` argument. Driver-side by design:
    * each level is one fixed-size sketch, not row data. Staging/retired
    * leftovers of a crashed [[compactBloomIndex]] are unioned in too —
    * OR is idempotent, so over-merging a leftover is always safe and a
    * reader never loses bits whatever the crash point. */
  def readMergedBloom(spark: SparkSession, path: String): Array[Byte] = {
    val (f, p) = Levels.fs(spark, path)
    val present = (Levels.dirs(spark, path).map(new org.apache.hadoop.fs.Path(_, "bloom.bin")) ++
      Levels.foldLeftovers(f, p, Some("bloom.bin")).map(_._1)).filter(f.exists)
    require(present.nonEmpty, s"no sketch levels under $path")
    bloomBytes(present.map(readBloom(f, _)).reduce(_ mergeInPlace _))
  }

  /** Fold committed sketch deltas into the `__batch=-1` base — the
    * leveled fold (README, "Leveled artifact layout") over one
    * `bloom.bin` per level, its staging step an OR-merge. OR is
    * idempotent, so re-merging a crash leftover is a no-op and
    * [[readMergedBloom]] never loses bits at any crash point. */
  def compactBloomIndex(spark: SparkSession, path: String): Unit =
    Levels.fold(spark, path, (_, levels, leftovers, staging) => {
      val (f, _) = Levels.fs(spark, path)
      writeFile(f, new org.apache.hadoop.fs.Path(staging), bloomBytes(
        (levels ++ leftovers.map(_._1)).map(l => readBloom(f, new org.apache.hadoop.fs.Path(l)))
          .reduce(_ mergeInPlace _)))
    }, file = Some("bloom.bin"))

  private def readBloom(f: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): org.apache.spark.util.sketch.BloomFilter = {
    val in = f.open(path)
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
  }

  private def writeFile(f: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Unit = {
    val out = f.create(path, true)
    try out.write(bytes) finally out.close()
  }

  /** Gap-based session windows over the live stream — the canonical
    * Structured Streaming session shape (`session_window` merges events
    * whose gap to the previous event is < gapUs; a gap >= gapUs starts a
    * new session). State is per-(user, open session) and bounded by the
    * watermark horizon, so it scales with ACTIVE users, not history.
    * Output: one row per closed session with its first/last event time
    * (window.end is last + gap by definition, subtracted back out). */
  def sessionCounts(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts_t",
      gapUs: Long = 21600000000L,
      latenessDays: Int = 2): DataFrame =
    events
      .withWatermark(tsCol, s"$latenessDays days")
      .groupBy(col(userCol), session_window(col(tsCol), s"$gapUs microseconds").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(userCol),
        unix_micros(col("sw.start")).as("start_us"),
        (unix_micros(col("sw.end")) - gapUs).as("last_us"),
        col("n_events"))

  /** Stream-static dedup join: a streaming increment of documents,
    * content-digest joined against the STATIC corpus digest index — the
    * continuous version of DedupOps.incrementalExact (each micro-batch is
    * one "daily increment"). The static side is a bounded relation Spark
    * re-plans per micro-batch (broadcast or scan — at 100 TB a pre-hashed
    * digest table, 32 bytes/doc, never the raw text). Inner join, append
    * mode, stateless: no watermark, no join state — every (new doc,
    * corpus copy) pair is emitted exactly once as it streams in. */
  def incrementalExactStream(
      increment: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val inc = increment.select(col(idCol).as("new_id"), sha2(col(textCol), 256).as("h"))
    val cor = corpus.select(col(idCol).as("corpus_id"), sha2(col(textCol), 256).as("h"))
    inc.join(cor, Seq("h")).select(col("new_id"), col("corpus_id"))
  }

  /** Stream-static contamination screen: streaming eval/benchmark docs
    * exploded into k-token shingles (per-row HOF shingling — no window
    * function, so it runs on an unbounded stream; the batch side's
    * window-lead shingler needs a finite partition) joined against the
    * STATIC train-corpus shingle index. Stateless inner join, append
    * mode: one row per (eval doc, shared shingle occurrence); the reader
    * rolls up distinct shingles per doc. At 100 TB the static side is the
    * pre-materialized distinct-shingle index (8-byte hashes, not
    * strings) and each arriving benchmark is screened as it lands. */
  def contaminationStream(
      evalDocs: DataFrame,
      trainShingles: DataFrame,
      k: Int = 3): DataFrame =
    evalDocs
      .select(col("doc_id").as("eval_id"),
        explode(graft.functions.TextFns.shingles(col("text"), k)).as("shingle"))
      .join(trainShingles, Seq("shingle"))
      .select(col("eval_id"), col("shingle"))

  /** Stream-static SEMANTIC decontamination screen — the embedding-level
    * sibling of [[contaminationStream]]: streaming eval embeddings probe
    * their `nProbe` nearest IVF cells (one per-row codegen explode, the
    * [[graft.operators.SimilarityOps.crossMaxCosineIvf]] candidate
    * shape) and equi-join the STATIC train-side cell index; every
    * (eval, train) pair whose quantized cosine clears `threshold` is
    * emitted exactly once as it streams in. Stateless inner join, append
    * mode — no watermark, no join state; the per-eval nearest-neighbor
    * rollup stays a reader-side `max_by`, exactly like the shingle
    * screen's per-doc rollup. At 100 TB the static side is the
    * pre-partitioned cell index, and each arriving benchmark doc is
    * screened as it lands. */
  def decontamStream(
      evalEmb: DataFrame,
      train: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      nProbe: Int,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    graft.plans.GraftFunctions.register(evalEmb.sparkSession)
    import graft.operators.SimilarityOps
    import graft.plans.GraftFunctions
    import graft.functions.VectorFns
    val trainCells = train
      .select(col(idCol).as("train_id"), VectorFns.toDouble(col(vecCol)).as("yv"))
      .withColumn("cell", SimilarityOps.cellExpr(col("yv"), centroids))
    evalEmb
      .select(col(idCol).as("eval_id"), VectorFns.toDouble(col(vecCol)).as("xv"))
      .select(col("eval_id"), col("xv"),
        explode(SimilarityOps.topCellsExpr(col("xv"), centroids, nProbe)).as("cell"))
      .join(trainCells, Seq("cell"))
      .select(col("eval_id"), col("train_id"),
        floor(GraftFunctions.cosine(col("xv"), col("yv")) * lit(1e4)).as("s"))
      .filter(col("s") >= lit(math.round(threshold * 1e4)))
      .select(col("eval_id"), col("train_id"),
        (col("s").cast("double") / lit(1e4)).as("sim"))
  }

  /** Stream-stream attribution join (the ad-attribution shape): every
    * `tgtType` event paired with the same user's `srcType` events from the
    * preceding `windowUs` — e.g. the views that led to a purchase. Both
    * branches read the SAME input stream, carry watermarks, and the join
    * condition ties the two event times into a bounded range, so Spark
    * can expire join state: a view is held only until the watermark
    * passes its window end, purchases match in-flight — state scales with
    * the window's event volume, not history. Inner join, append mode:
    * each matched pair is emitted exactly once. */
  def attributionPairs(
      events: DataFrame,
      srcType: String,
      tgtType: String,
      windowUs: Long = 21600000000L,
      latenessDays: Int = 2): DataFrame = {
    val views = events.filter(col("event_type") === srcType)
      .select(col("user_id").as("v_uid"), col("event_id").as("view_id"),
        col("ts_t").as("v_ts"))
      .withWatermark("v_ts", s"$latenessDays days")
    val targets = events.filter(col("event_type") === tgtType)
      .select(col("user_id").as("p_uid"), col("event_id").as("purchase_id"),
        col("ts_t").as("p_ts"))
      .withWatermark("p_ts", s"$latenessDays days")
    require(windowUs % 1000000L == 0, "windowUs must be whole seconds")
    targets.join(views, expr(
      s"v_uid = p_uid AND v_ts >= p_ts - INTERVAL ${windowUs / 1000000L} SECONDS" +
        " AND v_ts <= p_ts"))
  }

  /** Idempotent ingest: drop duplicate (id, rev, pos) rows across
    * micro-batches within the watermark horizon. The reference marks its
    * commit batches non-idempotent and simply swallows write timeouts
    * (CassandraEventStore.cs:67-70,90-93 — retries can double-write);
    * watermarked streaming dedup gives at-least-once sources exactly-once
    * landing instead. `eventTimeCol` must be a TimestampType column. */
  def dedupedEvents(events: DataFrame, eventTimeCol: String, latenessDays: Int = 2): DataFrame =
    events
      .withWatermark(eventTimeCol, s"$latenessDays days")
      .dropDuplicatesWithinWatermark("id", "rev", "pos")

  /** Per-aggregate revision monitor via flatMapGroupsWithState: keeps the
    * last seen revision per aggregate and emits one row per arriving
    * commit, flagging optimistic-concurrency anomalies (gap = a skipped
    * revision, conflict = a replayed/duplicate revision) — the streaming
    * version of the reference's rev-based concurrency model
    * (CassandraEventStore.cs revision semantics). Input needs (idB64, rev)
    * columns; GroupStateTimeout is unused (state is one int per live
    * aggregate). */
  def revisionMonitor(events: DataFrame): org.apache.spark.sql.Dataset[(String, Int, String)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.select(col("idB64").as[String], col("rev").as[Int])
      .groupByKey(_._1)
      .flatMapGroupsWithState[Int, (String, Int, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (id: String, rows: Iterator[(String, Int)], state: GroupState[Int]) =>
          var last = state.getOption.getOrElse(0)
          val out = rows.toSeq.sortBy(_._2).map { case (_, rev) =>
            val status =
              if (rev == last + 1) "ok"
              else if (rev <= last) "conflict"
              else "gap"
            if (rev > last) last = rev
            (id, rev, status)
          }
          state.update(last)
          out.iterator
      }
  }

  // ---- streaming k-means centroid maintenance --------------------------

  /** Streaming mini-batch k-means: every micro-batch of embeddings is
    * assigned to the CURRENT centroids (seed ⊕ all state below this
    * batch) and lands its per-(cell, dim) fixed-point coordinate sums at
    * `path/__batch=<id>` — k·d rows of longs per batch, regardless of
    * batch size. Long sums merge associatively, so the folded state is
    * bit-identical to what one big aggregation over the same per-batch
    * assignments would produce, under any partitioning; the whole sink's
    * state is O(k·d·batches) tiny rows (and [[compactKmeansState]] folds
    * committed levels to one).
    *
    * Replay-safe the [[curatedIngest]] way: centroids for batch N are
    * derived from `__batch < N` only, and the batch Overwrites its own
    * directory — a replayed batch recomputes the identical assignment and
    * state at any crash point. A `_meta.json` sidecar (k, dim) is written
    * BEFORE the first data landing and asserted per batch, so a restart
    * with a drifted seed geometry fails loudly instead of folding
    * incompatible state ([[lshIndexStream]]'s contract). Single-batch
    * degenerate case == [[graft.operators.SimilarityOps.kmeansStep]] from
    * the same seed — which is how q_stream_kmeans shares g_kmeans_step's
    * oracle; multi-batch sequential semantics are spec-replayed against a
    * driver reference. */
  def kmeansStream(embeddings: DataFrame, path: String, checkpoint: String,
      seed: Seq[(Int, Seq[Double])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataStreamWriter[Row] =
    sink(embeddings, checkpoint)(kmeansBatch(_, _, path, seed, idCol, vecCol))

  private[graft] def kmeansBatch(batch: DataFrame, batchId: Long, path: String,
      seed: Seq[(Int, Seq[Double])], idCol: String, vecCol: String): Unit = {
    val s = batch.sparkSession
    val (f, p) = Levels.fs(s, path)
    requireBatchLineage(f, p, batchId, "kmeansStream", path)
    Levels.pin(s, path, Seq("k" -> seed.size.toLong,
        "dim" -> seed.headOption.map(_._2.size).getOrElse(0).toLong))(bad =>
      s"kmeansStream seed geometry disagrees with the state at $path " +
        s"(${bad.map(_.replace("index=", "state=")).mkString(", ")}) — a drifted " +
        "restart would fold incompatible accumulators; use the original seed or a fresh path")
    val centroids = graft.operators.SimilarityOps.centroidsFromSums(
      accumulatedSums(s, path, belowBatch = batchId), seed)
    val vecs = batch.select(col(idCol).cast("long").as("id"),
      graft.functions.VectorFns.toDouble(col(vecCol)).as("v"))
    graft.operators.SimilarityOps.kmeansSums(vecs, centroids)
      .coalesce(1) // k·d rows — one small file per batch by construction
      .write.mode("overwrite").parquet(s"$path/__batch=$batchId")
  }

  /** All landed (cell, dim, sx, n_vecs) state strictly below `belowBatch`
    * (Long.MaxValue = everything), folded per (cell, dim). Driver-sized:
    * k·d rows.
    *
    * Integer sums are NOT idempotent (unlike the Bloom sink's OR), so a
    * half-finished [[compactKmeansState]] cannot be recovered by
    * over-merging; instead the staging directory carries a manifest of
    * the level names it folded, and the reader applies one deterministic
    * rule — if completed staging exists, read staging INSTEAD OF any
    * manifest-listed level (live or retired). Every crash point then
    * yields exactly-once sums: each source level is counted either via
    * itself or via staging, never both. */
  private[graft] def accumulatedSums(spark: SparkSession, path: String,
      belowBatch: Long): Seq[(Int, Int, Long, Long)] = {
    val (f, p) = Levels.fs(spark, path)
    val staged = Levels.manifestStaging(f, p)
    val excluded = staged.map(_._2).getOrElse(Set.empty)
    val dirs = Levels.ids(f, p).filter(id => !excluded.contains(id) && id < belowBatch)
      .map(Levels.dir(path, _)) ++
      // the staged fold replaces its sources; its level id is the max of
      // the folded ids, so the belowBatch filter applies to it too
      staged.filter(_._2.max < belowBatch).map(_._1.toString)
    if (dirs.isEmpty) return Seq.empty
    spark.read.parquet(dirs: _*)
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("sx")).as("sx"), sum(col("n_vecs")).as("n"))
      .collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Int]("dim"),
        r.getAs[Long]("sx"), r.getAs[Long]("n")))
      .toSeq
  }

  /** The maintained state as of the last committed batch, in
    * [[graft.operators.SimilarityOps.kmeansStep]]'s output shape
    * (cell, dim, mean_x, n_vecs) — the single-batch case is therefore
    * directly oracle-comparable to the batch step. */
  def readStreamKmeans(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    accumulatedSums(spark, path, belowBatch = Long.MaxValue)
      .toDF("cell", "dim", "sx", "n_vecs")
      .select(col("cell"), col("dim"),
        (col("sx").cast("double") / (lit(1e6) * col("n_vecs"))).as("mean_x"),
        col("n_vecs"))
  }

  /** Fold committed state levels into one — the newest delta is never
    * touched (the only replayable one; the established compaction
    * contract). The folded level takes the name of the HIGHEST folded
    * batch id, so every `__batch < N` read is semantics-preserving.
    *
    * Crash-safe via the manifest rule [[accumulatedSums]] applies:
    *  1. write the fold to `_staging_kmfold` (parquet first, then the
    *     `_folded.json` manifest — manifest presence = staging complete;
    *     from this instant readers count the folded levels via staging
    *     and skip the live sources);
    *  2. delete the folded source levels (readers already skip them);
    *  3. rename staging to `__batch=<maxFoldedId>` (manifest travels
    *     inside the directory but underscore files are invisible to the
    *     parquet reader, and [[Levels.manifestStaging]] only looks under the staging
    *     name — after the rename the level is an ordinary one).
    * Rerunning after any crash completes the protocol: a manifest-less
    * staging is deleted and refolded; a completed staging re-runs steps
    * 2-3. Single-maintainer contract like Storage.compact. */
  def compactKmeansState(spark: SparkSession, path: String): Unit = {
    val (f, p) = Levels.fs(spark, path)
    if (!f.exists(p)) return
    Levels.manifestStaging(f, p) match {
      case Some((_, folded)) =>
        // recovery: finish the interrupted run (its fold set, not ours)
        Levels.installManifestFold(f, p, folded)
        return
      case None => // incomplete staging: refold from sources
        f.delete(Levels.manifestStagingDir(p), true)
    }
    val levels = Levels.ids(f, p)
    if (levels.size <= 2) return // base + newest only — nothing to fold
    val foldable = levels.dropRight(1) // protect the newest delta
    spark.read.parquet(foldable.map(Levels.dir(path, _)): _*)
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("sx")).as("sx"), sum(col("n_vecs")).as("n_vecs"))
      .coalesce(1)
      .write.mode("overwrite").parquet(Levels.manifestStagingDir(p).toString)
    Levels.writeFoldManifest(f, p, foldable.toSet)
    Levels.installManifestFold(f, p, foldable.toSet)
  }
}
