package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.functions.TimeFns
import graft.sources.Tables

/** Driver contract (SURVEY.md §7).
  *
  * Every query is one operator row of SURVEY.md §2, declared once as a
  * [[rows.QueryDef]] (name, oracle SQL, closure) in the per-family files
  * of `graft.rows`, and expressed on the driver test tables (role
  * mapping FIXTURES.md §2: user_id = aggregate id, event_type = et,
  * event_id = revision order, props = opaque payload).
  *
  * Oracle-parity conventions (DuckDB 1.0 reads the same parquet):
  *  - `events.ts` is TIMESTAMP(NANOS) parquet: Spark reads it as epoch-nanos
  *    long (legacy nanosAsLong flag, set by Tables), DuckDB truncates to
  *    micros. All timestamp outputs are therefore epoch-micros longs:
  *    `ts div 1000` here == `epoch_us(ts)` there.
  *  - Large double sums are cast to DECIMAL on both sides (exact, order-
  *    independent); averages are exact-sum / count (never avg()); per-row
  *    double ratios use NumFns.floorAt -- the identical primitive sequence
  *    in both engines (round() algorithms differ near ties).
  *  - DuckDB sum(BIGINT) is HUGEINT -> always CAST to BIGINT in SQL.
  *  - Every oracle-checked query ends in a total ORDER BY.
  */
object SparkEntry {

  // Inclusive replay window used by the time-filtered queries (B5/E4):
  // [2024-01-10, 2024-01-20] in epoch micros; events span 2024-01-01..30.
  private[graft] val T10: Long = TimeFns.utcMicros("2024-01-10T00:00:00")
  private[graft] val T20: Long = TimeFns.utcMicros("2024-01-20T00:00:00")
  private[graft] val SqlT10 = "TIMESTAMP '2024-01-10 00:00:00'"
  private[graft] val SqlT20 = "TIMESTAMP '2024-01-20 00:00:00'"

  /** Quadratic-truth budget policy (SURVEY §2.8): a losslessness gate may
    * run its probe-all / O(n²) setting only at the SFs the driver
    * hash-checks against the oracle (sf0.001 / sf0.01); at every other SF
    * — i.e. the bench — the same query runs its production sub-quadratic
    * setting, so BENCH_r{N} tracks the plan a 100 TB user would run while
    * CORRECTNESS still certifies losslessness. The approximate regime
    * itself stays gated by the *_recall rows, which are sampled-query
    * (never full-quadratic) at any SF. */
  private[graft] def oracleScale(dir: String): Boolean =
    dir.contains("sf0.001") || dir.contains("sf0.01")

  /** Fixture centroids for the k-means-blocked SemDeDup gate: k ±1.0 sign
    * vectors from the same XXH64 arithmetic as [[rhpSignsSql]] under a
    * different seed (7), so the g_semdedup_kmeans oracle replays the
    * nearest-centroid assignment from inline literals — deterministic
    * shared state, not model weights. The data-derived ivfCentroids
    * variant stays spec-gated (TemporalCurationSpec). */
  private def fixtureCentroid(cid: Int, dim: Int): Seq[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val cidSeed = XXH64.hashInt(cid, 7L)
    (0 until dim).map { j =>
      val h = XXH64.hashInt(j, cidSeed)
      if (((h % 2) + 2) % 2 == 1) 1.0 else -1.0
    }
  }

  private[graft] val KmFixtureK = 4

  private[graft] def fixtureCentroids(dim: Int): Seq[(Int, Seq[Double])] =
    (1 to KmFixtureK).map(c => (c, fixtureCentroid(c, dim)))

  /** The argmax of the columns `column(1)`..`column(n)` as a DuckDB CASE:
    * the first column that is >= every later one, so a tie goes to the
    * smallest index, as in the engine's cell and code argmaxes. */
  private[graft] def argmaxCaseSql(n: Int)(column: Int => String): String = {
    val arms = (1 until n).map { i =>
      val conds = ((i + 1) to n).map(j => s"${column(i)} >= ${column(j)}").mkString(" AND ")
      s"WHEN $conds THEN $i"
    }.mkString(" ")
    s"CASE $arms ELSE $n END"
  }

  /** The cosines of list column `vec` against the dim-64
    * [[fixtureCentroids]], as the columns `<alias>1`..`<alias>K`. */
  private[graft] def fixtureCosSql(vec: String, alias: String): String =
    fixtureCentroids(64).map { case (cid, c) => s"${pqCosA(vec, pqArr(c))} AS $alias$cid" }
      .mkString(",\n    ")

  /** The fixture k-means coarse assignment: the argmax cell over the
    * [[fixtureCosSql]] columns `<cos>1`..`<cos>K`. */
  private[graft] def fixtureCellSql(cos: String): String =
    argmaxCaseSql(KmFixtureK)(i => s"$cos$i")

  /** CTE `probe`: the two fixture cells nearest the query, ranked by the
    * [[fixtureCosSql]] columns `qc_1`..`qc_K` of CTE `qcs`. */
  private[graft] def fixtureProbeCteSql: String =
    s"""probe AS (
       |  SELECT cid FROM (
       |    ${(1 to KmFixtureK).map(c => s"SELECT $c AS cid, qc_$c AS qc FROM qcs").mkString(" UNION ALL\n    ")})
       |  ORDER BY qc DESC, cid LIMIT 2)""".stripMargin

  /** Fixture PQ codebooks: per (subspace, code) a ±1 sign vector from the
    * same XXH64 arithmetic under seed 11 — deterministic shared state the
    * oracle replays from inline literals, exactly like [[fixtureCentroids]].
    * Data-derived training (SimilarityOps.trainPqCodebooks) stays
    * spec-gated (PqSpec). */
  private[graft] val PqM = 8
  private[graft] val PqC = 4

  private def pqCodeword(s: Int, cid: Int, subDim: Int): Seq[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val seed = XXH64.hashInt(cid, XXH64.hashInt(s, 11L))
    (0 until subDim).map { j =>
      val h = XXH64.hashInt(j, seed)
      if (((h % 2) + 2) % 2 == 1) 1.0 else -1.0
    }
  }

  private[graft] def fixturePqCodebooks(dim: Int): Seq[Seq[(Int, Seq[Double])]] = {
    val subDim = dim / PqM
    (0 until PqM).map(s => (1 to PqC).map(cid => (cid, pqCodeword(s, cid, subDim))))
  }

  /** PQ encode + ADC replay shared by g_sim_pq (full ADC scan) and
    * g_sim_ivfpq (coarse-cell-pruned scan): per subspace the codeword
    * argmax is the [[argmaxCaseSql]] CASE over sliced vectors;
    * the ADC lookup table is the query's per-(subspace, codeword)
    * fixed-point cosines — `floor(cos*1e6)` BIGINTs whose sum is exact in
    * both engines (the engine computes the same table driver-side). */
  private[graft] def pqOracleSql(pruned: Boolean): String = {
    val dim = 64
    val subDim = dim / PqM
    val dataCos = pqCwCosSql(dim)
    val lutCos = (for { s <- 0 until PqM; (cid, w) <- fixturePqCodebooks(dim)(s) } yield
      s"CAST(floor(${pqCosA(s"qv[${s * subDim + 1}:${(s + 1) * subDim}]", pqArr(w))} * 1000000)" +
        s" AS BIGINT) AS l_${s}_$cid")
      .mkString(",\n    ")
    val codes = pqCodeCasesSql
    val score = (0 until PqM).map { s =>
      val arms = (1 until PqC).map(c => s"WHEN $c THEN l_${s}_$c").mkString(" ")
      s"(CASE code_$s $arms ELSE l_${s}_$PqC END)"
    }.mkString("\n     + ")
    val coarseCols = if (pruned) s",\n    ${fixtureCosSql("v", "cc_")}" else ""
    val cellCol = if (pruned) s",\n    ${fixtureCellSql("cc_")} AS cell" else ""
    val prunedCtes =
      if (!pruned) ""
      else
        s""",
           |qcs AS (SELECT ${fixtureCosSql("qv", "qc_")} FROM q),
           |$fixtureProbeCteSql""".stripMargin
    val whereCell = if (pruned) "\n|WHERE b.cell IN (SELECT cid FROM probe)" else ""
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |c AS (SELECT vec_id,
       |    $dataCos$coarseCols
       |  FROM v),
       |b AS (SELECT vec_id,
       |    $codes$cellCol
       |  FROM c),
       |l AS (SELECT
       |    $lutCos
       |  FROM q)$prunedCtes
       |SELECT vec_id,
       |    $score AS adc_score
       |FROM b, l${whereCell.stripMargin}
       |ORDER BY adc_score DESC, vec_id LIMIT 20""".stripMargin
  }

  /** Brute-force k-NN-graph truth shared by g_knn_graph (probe-all cell
    * routing must reproduce it exactly) and g_knn_incr (the merge
    * identity makes incremental maintenance equal the rebuilt graph):
    * every ordered pair scored (floored at 4 decimals like the Spark
    * side), top-5 per query by (sim desc, neighbor id). */
  private[graft] lazy val oracleSqlKnnBruteForce: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |             floor((list_dot_product(a.v, b.v) /
      |                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))
      |                   * 10000) / 10000 AS sim
      |      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
      |      FROM p)
      |SELECT vec_id, neighbor_id, sim, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin

  /** Fixed lexical query for the BM25 rows: one rare token (`dup`, df a
    * few % of docs), two common ones — the idf spread exercises both ends
    * of the saturation curve. */
  private[graft] val Bm25Query = Seq("dup", "spark", "customer")

  /** The BM25 scoring CTEs over `documents` — shared by [[bm25OracleSql]]
    * and [[hybridOracleSql]]. Replays [[graft.operators.RetrievalOps]]'s
    * exactness discipline: the one `ln` is pinned to DECIMAL(18,8) and
    * cast back to DOUBLE before the product, shape constants interpolate
    * via Double.toString (round-trips to the identical double), per-term
    * contributions quantize to DECIMAL(18,8) before the order-free exact
    * sum, final score floored at 4 digits. */
  private[graft] lazy val bm25ScoreCtesSql: String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    val k1 = graft.operators.RetrievalOps.DefaultK1
    val b = graft.operators.RetrievalOps.DefaultB
    val idf = "CAST(CAST(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / " +
      "(CAST(df AS DOUBLE) + 0.5)) AS DECIMAL(18,8)) AS DOUBLE)"
    val sat = s"((CAST(tf AS DOUBLE) * ${k1 + 1.0}) / (CAST(tf AS DOUBLE) + $k1 * " +
      s"(${1.0 - b} + $b * (CAST(dl AS DOUBLE) / (CAST(a AS DOUBLE) / CAST(n AS DOUBLE))))))"
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS a FROM documents),
       |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
       |       WHERE tok IN ($terms) GROUP BY 1, 2),
       |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |              floor(CAST(sum(CAST($idf * $sat AS DECIMAL(18,8))) AS DOUBLE)
       |                    * 10000) / 10000 AS bm25
       |       FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
       |       GROUP BY doc_id)""".stripMargin
  }

  // --- fixture-PQ SQL fragment builders, shared by pqOracleSql,
  // knnPqOracleSql and graphSearchPqOracleSql (same dim-64 / PqM / PqC
  // geometry) ---
  private[graft] def pqArr(w: Seq[Double]) = w.mkString("[", ", ", "]")
  private[graft] def pqCosA(a: String, b: String) =
    s"(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))"
  /** per-row codeword cosines `c_{s}_{cid}` feeding the code argmaxes */
  private[graft] def pqCwCosSql(dim: Int): String = {
    val subDim = dim / PqM
    (for { s <- 0 until PqM; (cid, w) <- fixturePqCodebooks(dim)(s) } yield
      s"${pqCosA(s"v[${s * subDim + 1}:${(s + 1) * subDim}]", pqArr(w))} AS c_${s}_$cid")
      .mkString(",\n    ")
  }
  /** the m per-subspace code argmaxes (ties to the smallest code) */
  private[graft] def pqCodeCasesSql: String =
    (0 until PqM).map(s => s"${argmaxCaseSql(PqC)(i => s"c_${s}_$i")} AS code_$s")
      .mkString(",\n    ")

  /** The recursive closure of the pair CTE `pairs` (columns `left`,
    * `right`): CTEs `edges`, both directions of every pair, and
    * `reach(a, b)`, every node reachable from `a`; `min(b)` per `a` labels
    * its connected component. The caller opens `WITH RECURSIVE`. */
  private[graft] def reachCtesSql(pairs: String, left: String = "id1",
      right: String = "id2"): String =
    s"""edges AS (
       |  SELECT $left AS src, $right AS dst FROM $pairs
       |  UNION SELECT $right AS src, $left AS dst FROM $pairs),
       |reach(a, b) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)""".stripMargin

  /** The exact shingle-Jaccard components of the `(doc_id, text)` rows of
    * `docs`: CTEs `sh`, each doc's distinct 3-token shingles (its whole
    * text when shorter), `pairs` at Jaccard >= 0.5, and their
    * [[reachCtesSql]] closure. */
  private[graft] def shingleReachCtesSql(docs: String): String =
    s"""sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
       |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |    ELSE [array_to_string(t, ' ')] END) AS toks
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM $docs)),
       |pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.toks, b.toks)) /
       |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5),
       |${reachCtesSql("pairs")}""".stripMargin

  /** A fresh scratch directory for one query's intermediate tables. All
    * of them live under one per-JVM `graft_*` root, which a shutdown hook
    * removes when the JVM exits: after Spark has stopped (the hook runs
    * below Spark's own shutdown priority), so after Verify or Bench has
    * collected every result read from it. */
  private[graft] def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, s"${prefix}_").toString

  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(root.toFile), 20)
    root
  }

  /** Byte cap one AvailableNow micro-batch may ingest, set on every
    * streaming source by [[stream]]. Without it nothing bounds the
    * micro-batch: under AvailableNow a 100 TB backlog arrives as ONE batch
    * and any per-batch sizing is meaningless. The default (1 GiB) keeps
    * every bench SF single-batch (local inputs are well under it), so the
    * bench record stays comparable, while a production backlog drains
    * in bounded slices. */
  private def streamTriggerBytes(s: SparkSession): Long =
    GraftConf.int(s, GraftConf.StreamTriggerMb, 1024).toLong << 20

  /** The streaming source over test table `table` of `dir`, capped at
    * [[streamTriggerBytes]] per micro-batch, with the schema read through
    * [[Tables]]. A file-stream source takes a directory, never a plain
    * file, so the table is scoped by its path: a Spark-written multi-file
    * `<table>.parquet` directory streams that directory, and a single
    * `<table>.parquet` file streams `dir` through a file-name glob filter
    * (which would match no part file of a directory table). */
  private[graft] def stream(s: SparkSession, dir: String, table: String): DataFrame = {
    val file = s"$table.parquet"
    val path = new org.apache.hadoop.fs.Path(dir, file)
    val src = s.readStream.schema(Tables.table(s, dir, table).schema)
      .option("maxBytesPerTrigger", streamTriggerBytes(s).toString)
    if (path.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(path).isDirectory)
      src.parquet(path.toString)
    else src.option("pathGlobFilter", file).parquet(dir)
  }

  /** Drain the stream of test table `table` of `dir` to completion: start
    * `writer` under [[Trigger.AvailableNow]] and wait for it. The session's
    * shuffle partitions — which fix the stream's state-store/shuffle
    * partition count at start — are set to [[streamParts]], sized to the
    * per-micro-batch volume instead of the session's batch parallelism,
    * and restored afterwards either way. Stateful micro-batches pay
    * per-partition state maintenance every trigger; at test scale 32
    * partitions of machinery dominated the actual work (q_stream_attrib:
    * 5.8s -> 3.1s at 8).
    *
    * NOT thread-safe against concurrent [[graft.operators.Par]] chains:
    * this is a session-conf toggle, so a drain must never run inside (or
    * beside) a Par pool on the same session — the toggle would silently
    * retune every in-flight chain's shuffles. So the two concurrent
    * queues of q_stream_forget_all and the Par-chained queue of
    * q_stream_forget start their own AvailableNow queries at the session's
    * partition count; every other drain runs here, outside Par. */
  private[graft] def drain(s: SparkSession, dir: String, table: String)(
      writer: => DataStreamWriter[_]): StreamingQuery = {
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", streamParts(s, dir, s"$table.parquet").toString)
    try {
      val q = writer.trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    } finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** [[drain]] into the memory sink `name` in output `mode`, returning the
    * drained rows; a stale query still running under `name` is stopped
    * first. */
  private[graft] def drainToMemory(s: SparkSession, dir: String, table: String, name: String,
      mode: String)(rows: DataFrame): DataFrame = {
    s.streams.active.filter(q => Option(q.name).contains(name)).foreach(_.stop())
    drain(s, dir, table)(rows.writeStream.format("memory").queryName(name).outputMode(mode))
    s.table(name)
  }

  /** The shuffle/state partition count [[drain]] sets for the stream of
    * `dir/glob`: a trigger ingests at most min(input bytes,
    * [[streamTriggerBytes]]), the drain gets one partition per
    * [[GraftConf.StreamPartMb]] (default 32 MiB) of that, floored at
    * [[GraftConf.StreamMinParts]] (default 8 — stateful drains keep a few
    * tasks' worth of intra-batch overlap even when the volume alone
    * derives fewer) and clamped to the session's batch parallelism. At
    * bench SFs (inputs << 32 MiB) the floor decides; on a production
    * backlog the volume term does — a 1 GiB trigger derives 32 partitions
    * — so no constant here is a local-mode assumption. The state-store
    * count is still fixed at first start per checkpoint (every row uses a
    * fresh checkpoint dir). A glob match that is a directory (a
    * Spark-written multi-file table) counts the bytes of its leaf data
    * files — underscore/dot markers and checksums excluded, as the reader
    * skips them — not the directory entry's own zero length. */
  private[graft] def streamParts(s: SparkSession, dir: String, glob: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def leafBytes(st: org.apache.hadoop.fs.FileStatus): Long =
      if (!st.isDirectory) st.getLen
      else {
        val it = fs.listFiles(st.getPath, true)
        var n = 0L
        while (it.hasNext) {
          val f = it.next()
          if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
            n += f.getLen
        }
        n
      }
    val bytes = Option(fs.globStatus(new org.apache.hadoop.fs.Path(p, glob)))
      .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
      .map(leafBytes).sum
    val perPart = GraftConf.int(s, GraftConf.StreamPartMb, 32).toLong << 20
    val vol = math.min(bytes, streamTriggerBytes(s))
    val derived = math.max(
      GraftConf.int(s, GraftConf.StreamMinParts, 8).toLong,
      (vol + perPart - 1L) / perPart)
    math.max(1L,
      math.min(derived, s.sessionState.conf.numShufflePartitions.toLong)).toInt
  }

  /** Flagship (smoke, sf0.001): the reference's signature pipeline — replay
    * by event type (E1 index branch): day-pruned index range scan (E4) ->
    * join back to the log (C1, hint-free via EventStoreOps — the index slice
    * of a hot type is unbounded at 100 TB, so broadcast is AQE's call) ->
    * per-aggregate grouping (E3) -> counts. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val idx = ev
      .filter(col("event_type") === "purchase" && Tables.tsUsBetween(T10, T20))
      .select(col("user_id").as("aid"), col("event_id").as("eid"))
    graft.operators.EventStoreOps.indexJoinOn(ev, idx,
        col("user_id") === col("aid") && col("event_id") === col("eid"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), min("ts_us").as("first_us"))
      .orderBy(col("user_id"))
  }

  /** Shared by g_chunk_store and q_stream_store. */
  private[graft] lazy val oracleSqlChunkStore: String =
    """SELECT doc_id AS media_id, md5(text) AS content_md5
      |FROM documents WHERE length(coalesce(text, '')) > 0
      |ORDER BY media_id""".stripMargin

  /** Shared by g_dataset_card and q_stream_card. */
  private[graft] lazy val oracleSqlDatasetCard: String =
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(length(text)) AS BIGINT) AS n_chars,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |       CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_texts,
      |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |       CAST(sum(CAST(floor(least(greatest(
      |         least(len(string_split(text, ' ')) / 64.0, 1.0) * 0.4 +
      |         (len(list_distinct(string_split(text, ' '))) /
      |          CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.4 +
      |         (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) /
      |                CAST(length(text) AS DOUBLE)) * 0.2,
      |         0.0), 1.0) * 10000) AS BIGINT)) AS DOUBLE)
      |         / (10000.0 * count(*)) AS mean_quality
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Shared by g_dedup_incremental_exact, g_dedup_bloom and q_stream_bloom. */
  private[graft] lazy val oracleSqlDedupIncrementalExact: String =
    """SELECT a.doc_id AS new_id,
      |       CAST(count(b.doc_id) AS BIGINT) AS n_corpus_copies,
      |       min(b.doc_id) AS first_copy_id
      |FROM documents a LEFT JOIN documents b
      |  ON b.doc_id % 5 <> 0 AND a.text = b.text
      |WHERE a.doc_id % 5 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by g_dedup_incremental, g_dedup_indexed and q_stream_lsh. */
  private[graft] lazy val oracleSqlDedupIncremental: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
      |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |    ELSE [array_to_string(t, ' ')] END) AS toks
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
      |SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
      |       floor((len(list_intersect(a.toks, b.toks)) /
      |             (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))) * 10000) / 10000 AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      |WHERE len(list_intersect(a.toks, b.toks)) /
      |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
      |ORDER BY new_id, corpus_id""".stripMargin

  /** Shared by g_dup_spans_incr and q_stream_spans. */
  private[graft] lazy val oracleSqlDupSpansIncr: String =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |pos AS (SELECT doc_id, unnest(range(1, len(t) - 1)) AS i, t FROM base WHERE len(t) >= 3),
      |sh AS (SELECT doc_id, i - 1 AS idx, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
      |occ AS (SELECT shingle FROM (SELECT shingle, count(*) AS c FROM sh GROUP BY 1) WHERE c >= 2),
      |isl AS (SELECT doc_id, idx,
      |               idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
      |        FROM sh JOIN occ USING (shingle) WHERE doc_id % 5 = 0)
      |SELECT doc_id, CAST(min(idx) AS BIGINT) AS start_tok,
      |       CAST(max(idx) + 2 AS BIGINT) AS end_tok,
      |       CAST(max(idx) - min(idx) + 3 AS BIGINT) AS span_tokens
      |FROM isl GROUP BY doc_id, grp
      |HAVING max(idx) - min(idx) + 3 >= 8
      |ORDER BY doc_id, start_tok""".stripMargin

  /** Shared by g_exact_quantiles and q_stream_quantiles. */
  private[graft] lazy val oracleSqlExactQuantiles: String =
    """WITH v AS (SELECT lang, doc_id, n_chars,
      |        row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |        count(*) OVER (PARTITION BY lang) AS n
      |      FROM documents)
      |SELECT lang,
      |  max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN n_chars END) AS p25,
      |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN n_chars END) AS p50,
      |  max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN n_chars END) AS p75
      |FROM v GROUP BY lang ORDER BY lang""".stripMargin

  /** Shared by g_para_dedup and q_stream_curated. */
  private[graft] lazy val oracleSqlParaDedup: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS st FROM t),
      |p AS (SELECT doc_id, CAST(st // 8 AS INT) AS idx,
      |             array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS para
      |      FROM s),
      |r AS (SELECT doc_id, idx, para,
      |             row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
      |      FROM p)
      |SELECT doc_id,
      |       coalesce(array_to_string(list(para ORDER BY idx) FILTER (WHERE rn = 1), ' '), '') AS clean_text,
      |       CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
      |       CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared by g_sim_topk, g_sim_ann, g_sim_ivf, g_sim_ivf_indexed and q_stream_ivf. */
  private[graft] lazy val oracleSqlSimTopK: String =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |       floor((list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
      |             (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
      |              sqrt(list_dot_product(qv, qv)))) * 10000) / 10000 AS sim
      |FROM embeddings, q
      |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin

  /** Shared by g_sketch_topk and q_stream_topk. */
  private[graft] lazy val oracleSqlSketchTopK: String =
    """SELECT tok, CAST(count(*) AS BIGINT) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 10""".stripMargin

  /** Shared by g_token_budget and q_stream_budget. */
  private[graft] lazy val oracleSqlTokenBudget: String =
    """WITH k AS (SELECT doc_id,
      |        ((doc_id % 2147483647) * 62089911 + 7) % 2147483647 AS sort_key,
      |        CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_tokens
      |      FROM documents),
      |c AS (SELECT doc_id, sort_key, n_tokens,
      |        SUM(n_tokens) OVER (ORDER BY sort_key, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM k)
      |SELECT doc_id, sort_key, n_tokens FROM c
      |WHERE cum - n_tokens < 9000
      |ORDER BY doc_id""".stripMargin

  /** One entry per implemented operator from SURVEY.md §2: every row's
    * closure, from the [[rows.QueryDef]] registry. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.QueryDef.all.map { case (name, d) => name -> d.build }

  /** DuckDB-equivalent SQL per query (same tables, same column names, same
    * row order), from the same registry. */
  def oracleSql: Map[String, String] =
    rows.QueryDef.all.map { case (name, d) => name -> d.oracleSql }
}
