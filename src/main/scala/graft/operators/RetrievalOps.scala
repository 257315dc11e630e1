package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{NumFns, TextFns}

/** Lexical retrieval + hybrid fusion over the documents table (builder
  * mandate §G, the serving-side complement of the ANN family): BM25
  * scoring (Robertson/Spärck Jones Okapi BM25, the Lucene-variant
  * `ln(1 + (N-df+0.5)/(df+0.5))` idf), a persisted token-partitioned
  * postings index so query cost is posting-list-sized rather than
  * corpus-sized, and reciprocal-rank fusion (Cormack et al., RRF) to
  * combine a lexical ranking with a vector ranking into one hybrid
  * answer.
  *
  * Exactness discipline (the [[TextOps.unigramLogProb]] convention): the
  * one libm call (`ln`) is quantized to DECIMAL(18,8) immediately, every
  * other step is a correctly-rounded IEEE double op on identical inputs
  * in any engine, per-term contributions quantize to DECIMAL(18,8)
  * BEFORE the order-sensitive sum (decimal sums are exact and
  * order-free), and the final score floors at 4 digits — so the whole
  * scorer replays bit-exactly in DuckDB and the oracle rows carry no
  * tolerance.
  */
object RetrievalOps {

  /** Default BM25 shape parameters (the Robertson-recommended / Lucene
    * default operating point). */
  val DefaultK1 = 1.2
  val DefaultB = 0.75

  /** Per-(doc, term) BM25 inputs for `query` terms only: tf rows joined
    * with term df, doc length, and the one-row corpus stats frame.
    * Kept private — the public faces are [[bm25Scores]] / [[bm25TopK]]
    * and the indexed probe. */
  private def bm25Contrib(k1: Double, b: Double): Column = {
    val nD = col("__n").cast("double")
    val aD = col("__a").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    // idf: the single libm op, pinned to the 1e-8 grid and back to double
    // so both engines multiply identical doubles
    val idfQ = log(lit(1.0) + (nD - dfD + lit(0.5)) / (dfD + lit(0.5)))
      .cast("decimal(18,8)").cast("double")
    // tf saturation + length normalization: every op correctly-rounded
    // IEEE on identical inputs (avgdl is the exact double quotient of two
    // integer-exact casts); constants interpolate into the oracle SQL via
    // Double.toString, which round-trips to the identical double
    val sat = (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * (dlD / (aD / nD))))
    (idfQ * sat).cast("decimal(18,8)")
  }

  /** BM25 scores for every document matching at least one `query` term:
    * `(doc_id, n_terms, bm25)` where `n_terms` counts distinct matched
    * query terms and `bm25` is the 4-digit-floored Okapi score.
    *
    * Shape at 100 TB: token explode → query-term filter (the full-scan
    * fallback; [[bm25TopKIndexed]] replaces this with posting-list
    * directory pruning) → (doc, term) tf agg → a ≤|query|-row df frame
    * BROADCAST back → doc-keyed join with the doc-length frame → per-doc
    * agg. Two shuffles, both map-side combined; the df/stats frames are
    * driver-bounded. */
  def bm25Scores(
      docs: DataFrame,
      query: Seq[String],
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    val terms = query.distinct
    val toks = docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
    val stats = docs.agg(
      count(lit(1)).as("__n"),
      sum(size(TextFns.tokens(col("text")))).as("__a"))
    val dl = docs.select(col("doc_id"), size(TextFns.tokens(col("text"))).cast("long").as("dl"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).as("df")) // ≤ |query| rows
    scoreFromPostings(tf, dfc, dl, stats, k1, b)
  }

  /** The shared scoring tail over any postings provider: `(doc_id, tok,
    * tf)` × broadcast df × doc-length × one-row stats → per-doc floored
    * score. */
  private def scoreFromPostings(
      tf: DataFrame,
      dfc: DataFrame,
      dl: DataFrame,
      stats: DataFrame,
      k1: Double,
      b: Double): DataFrame =
    tf.join(broadcast(dfc), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats)) // one-row corpus stats
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_terms"),
        NumFns.floorAt(sum(bm25Contrib(k1, b)).cast("double"), 4).as("bm25"))

  /** Top-`k` lexical hits by `(bm25 desc, doc_id)` — the total order makes
    * the cut deterministic in any engine. */
  def bm25TopK(
      docs: DataFrame,
      query: Seq[String],
      k: Int = 10,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(k >= 1, "k >= 1")
    bm25Scores(docs, query, k1, b).orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  // ---------------------------------------------------------------- index

  /** Persist the corpus' postings index: one `(tok, doc_id, tf)` row per
    * distinct (token, doc) pair, hive-partitioned by `pt =
    * pmod(xxhash64(tok), nPt)` under the versioned `__batch=-1` base (the
    * [[TextOps.writeShingleIndex]] layout), plus a `_docs/__batch=-1`
    * parquet sidecar `(doc_id, dl)` and a `_meta.json` pinning `nPt` (the
    * routing contract — a drifted nPt would hash new postings to other
    * `pt` dirs and probes would silently miss them). A probe for a q-term
    * query reads only the ≤q `pt` directories its terms hash to —
    * posting-list cost, not corpus cost — and derives the corpus-wide
    * constants in-DAG from the `_docs` frame it already joins (NOT from a
    * sidecar snapshot: under the streaming twin
    * [[graft.streaming.StreamingOps.postingsStream]] the constants evolve
    * per batch, and a stale nDocs/avgdl would silently skew idf and
    * length normalization). This is the bootstrap half of the versioned
    * layout; [[graft.streaming.StreamingOps.postingsStream]] appends
    * `__batch=<id>` deltas and
    * [[graft.streaming.StreamingOps.compactPostingsIndex]] folds them. */
  def writePostingsIndex(docs: DataFrame, path: String, nPt: Int = 16): Unit = {
    require(nPt >= 1, "nPt >= 1")
    val spark = docs.sparkSession
    val base = graft.sources.Levels.newBase(spark, path, "writePostingsIndex")
    writePostingsMeta(spark, path, nPt)
    writeDocsDelta(docs, graft.sources.Levels.base(s"$path/_docs"), "doc_id", "text")
    writePostingsDelta(docs, base, nPt, "doc_id", "text")
  }

  /** One level of the pt-partitioned postings layout (shared by the batch
    * bootstrap and the streaming twin's per-batch deltas — Overwrite so a
    * checkpoint-replayed batch rewrites its own directory). The layout is
    * POSITIONAL: each (tok, doc) row carries its sorted in-document token
    * positions, so the one index serves BM25 scoring (readers prune the
    * column away) AND exact-phrase probes ([[phraseMatchesIndexed]]). */
  private[graft] def writePostingsDelta(docs: DataFrame, dir: String, nPt: Int,
      idCol: String, textCol: String): Unit =
    docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextFns.tokens(col(textCol))).as(Seq("pos", "tok")))
      .groupBy(col("tok"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos").cast("long"))).as("positions"))
      .select(col("tok"), col("doc_id"), col("tf"), col("positions"),
        pmod(xxhash64(col("tok")), lit(nPt.toLong)).cast("int").as("pt"))
      .repartition(col("pt")) // one file per pt dir per level
      .write.mode(SaveMode.Overwrite).partitionBy("pt").parquet(dir)

  /** One level of the `(doc_id, dl)` sidecar (same Overwrite contract). */
  private[graft] def writeDocsDelta(docs: DataFrame, dir: String,
      idCol: String, textCol: String): Unit =
    docs.select(col(idCol).cast("long").as("doc_id"),
        size(TextFns.tokens(col(textCol))).cast("long").as("dl"))
      .write.mode(SaveMode.Overwrite).parquet(dir)

  private[graft] def writePostingsMeta(spark: SparkSession, path: String,
      nPt: Int): Unit =
    ParamMeta.write(spark, path, Seq("nPt" -> nPt.toLong))

  /** Refuse a probe/maintenance caller whose nPt disagrees with the
    * index's recorded routing parameter (the [[writePostingsMeta]]
    * contract — drift would mis-route, so it fails loudly). */
  private[graft] def assertPostingsMeta(spark: SparkSession, path: String,
      nPt: Int, op: String): Unit =
    ParamMeta.readText(spark, path).foreach { _ =>
      val rec = readMetaField(spark, path, "nPt")
      require(rec == nPt,
        s"$op: postings routing mismatch vs $path/_meta.json (nPt: index=$rec caller=$nPt)")
    }

  private def readMetaField(spark: SparkSession, path: String, name: String): Long = {
    val text = ParamMeta.readText(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"requirement failed: postings index at $path has no _meta.json sidecar"))
    ParamMeta.field(text, name).getOrElse(throw new IllegalArgumentException(
      s"postings index sidecar at $path lacks field '$name'"))
  }

  /** pt buckets for the query terms — computed through the SAME engine
    * expression the writer used (a ≤|query|-row local job), so writer and
    * probe can never drift on the hash. */
  private def termBuckets(spark: SparkSession, terms: Seq[String], nPt: Int): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
        terms.map(org.apache.spark.sql.Row(_)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tok",
            org.apache.spark.sql.types.StringType))))
      .select(pmod(xxhash64(col("tok")), lit(nPt.toLong)).cast("int"))
      .collect().map(_.getInt(0)).toSeq.distinct
  }

  /** [[bm25TopK]] served from a [[writePostingsIndex]] root: reads ONLY
    * the `pt` directories the query terms hash to (hive partition
    * pruning, at every `__batch=` level), folds levels by taking max tf
    * per (tok, doc) — each doc lands in exactly ONE level with
    * deterministic tf (unique-doc-id contract), and a crashed
    * compaction's overlap window only duplicates IDENTICAL rows, so the
    * max is lossless in both regimes (a sum would double-count the
    * overlap) — computes df from the folded postings (exact: postings
    * are complete per term), and derives N/avgdl in-DAG from the folded
    * `_docs` frame it already joins (one extra agg over a frame that is
    * being scanned anyway; corpus constants therefore track streamed
    * deltas with no sidecar mutation). Contract (spec-pinned +
    * `g_bm25_indexed` hash row): bit-equal to the full-scan
    * [[bm25TopK]]. */
  def bm25TopKIndexed(
      spark: SparkSession,
      indexPath: String,
      query: Seq[String],
      k: Int = 10,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(k >= 1, "k >= 1")
    bm25ScoresIndexed(spark, indexPath, query, k1, b)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  /** The indexed scorer behind [[bm25TopKIndexed]], exposed so serving
    * compositions ([[bm25PhraseTopKIndexed]]) can filter BEFORE the
    * shortlist cut without re-reading the index. */
  def bm25ScoresIndexed(
      spark: SparkSession,
      indexPath: String,
      query: Seq[String],
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    val terms = query.distinct
    val nPt = readMetaField(spark, indexPath, "nPt").toInt
    val buckets = termBuckets(spark, terms, nPt)
    val postings = spark.read
      .schema("tok STRING, doc_id LONG, tf LONG, pt INT, __batch LONG")
      .parquet(indexPath)
      .filter(col("pt").isin(buckets: _*)) // directory pruning
      .filter(col("tok").isin(terms: _*))
    val tf = postings.groupBy(col("doc_id"), col("tok")).agg(max(col("tf")).as("tf"))
    val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val dl = spark.read
      .schema("doc_id LONG, dl LONG, __batch LONG")
      .parquet(s"$indexPath/_docs")
      .groupBy(col("doc_id")).agg(max(col("dl")).as("dl")) // overlap-tolerant fold
    val stats = dl.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__a"))
    scoreFromPostings(tf, dfc, dl, stats, k1, b)
  }

  /** [[bm25PhraseTopK]] served ENTIRELY from the positional index — the
    * lexical serving composition with no corpus scan anywhere: scoring
    * statistics, posting lists, AND the phrase adjacency all come from
    * the one persisted artifact (query cost = the query terms' + phrase
    * terms' posting lists). Bit-equal to the full-scan
    * [[bm25PhraseTopK]] (spec + shared `g_bm25_phrase` oracle hash via
    * `g_serve_lexical`). */
  def bm25PhraseTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      query: Seq[String],
      phrase: Seq[String],
      k: Int = 10,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(k >= 1, "k >= 1")
    bm25ScoresIndexed(spark, indexPath, query, k1, b)
      .join(phraseMatchesIndexed(spark, indexPath, phrase).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  /** [[phraseMatches]] served from the POSITIONAL postings index: reads
    * ONLY the phrase terms' `pt` directories (directory pruning at every
    * batch level), folds fold-overlap duplicates on (tok, doc) — rows
    * are identical under the unique-doc-id contract, so any survivor is
    * correct — explodes the stored positions, and runs the same
    * anchor-grouping vote. Posting-list cost, never a corpus scan;
    * bit-equal to the full-scan [[phraseMatches]] (spec + shared
    * `g_phrase` oracle hash via `g_phrase_indexed`). */
  def phraseMatchesIndexed(
      spark: SparkSession,
      indexPath: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val q = phrase.size
    val nPt = readMetaField(spark, indexPath, "nPt").toInt
    val buckets = termBuckets(spark, phrase.distinct, nPt)
    val ph = spark.range(1)
      .select(posexplode(lit(phrase.toArray)).as(Seq("__i", "tok")))
    val postings = spark.read
      .schema("tok STRING, doc_id LONG, tf LONG, positions ARRAY<LONG>, pt INT, __batch LONG")
      .parquet(indexPath)
      .filter(col("pt").isin(buckets: _*)) // directory pruning
      .filter(col("tok").isin(phrase.distinct: _*))
      .dropDuplicates("tok", "doc_id") // fold-overlap rows are identical
    postings.join(broadcast(ph), "tok")
      .select(col("doc_id"), col("__i"), explode(col("positions")).as("pos"))
      .withColumn("anchor", col("pos") - col("__i"))
      .filter(col("anchor") >= 0)
      .groupBy(col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("__votes"))
      .filter(col("__votes") === q.toLong)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("anchor")).as("first_pos"))
  }

  // ---------------------------------------------------------------- phrase

  /** Exact consecutive-phrase occurrences by ANCHOR-GROUPING: each token
    * position `pos` matching phrase term `i` votes for `anchor = pos −
    * i`; for a fixed anchor each term index can vote at most once (its
    * position is determined), so an anchor with exactly `q` votes is an
    * occurrence — repeated phrase terms and OVERLAPPING occurrences
    * ("order order order" holds two of "order order") fall out with no
    * special casing. Output: `(doc_id, n_hits, first_pos)` for docs with
    * ≥1 occurrence.
    *
    * Shape at 100 TB: token posexplode → broadcast join against the
    * q-row phrase frame (only matching tokens survive — posting-list
    * cost per term) → ONE shuffle keyed (doc, anchor) with map-side
    * combine → per-doc agg. No self-joins, no q-way join chain (the
    * classic positional-index plan), no window. */
  def phraseMatches(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val spark = docs.sparkSession
    val q = phrase.size
    val ph = spark.range(1)
      .select(posexplode(lit(phrase.toArray)).as(Seq("__i", "tok")))
    val toks = docs.select(col("doc_id"),
      posexplode(TextFns.tokens(col("text"))).as(Seq("pos", "tok")))
    toks.join(broadcast(ph), "tok")
      .withColumn("anchor", col("pos").cast("long") - col("__i"))
      .filter(col("anchor") >= 0)
      .groupBy(col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("__votes"))
      .filter(col("__votes") === q.toLong)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("anchor")).as("first_pos"))
  }

  /** [[bm25TopK]] restricted to documents containing the exact `phrase`
    * — the lexical serving composition "rank by BM25 among phrase
    * matches" (left-semi join against [[phraseMatches]]'s doc set, so
    * the scorer's df/idf statistics stay CORPUS-wide — restricting the
    * stats to the filtered set would change scores, which is not what a
    * phrase filter means). */
  def bm25PhraseTopK(
      docs: DataFrame,
      query: Seq[String],
      phrase: Seq[String],
      k: Int = 10,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(k >= 1, "k >= 1")
    bm25Scores(docs, query, k1, b)
      .join(phraseMatches(docs, phrase).select(col("doc_id")), Seq("doc_id"), "left_semi")
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
  }

  // ------------------------------------------------------------- serving UX

  /** Per-source faceted ranking: the top `perSource` documents of EVERY
    * source by BM25 — the grouped/faceted results page a retrieval UI
    * renders. Corpus-wide scoring (facets must not change idf), one
    * doc-keyed join to attach the facet, one window PARTITIONED BY the
    * facet (each source ranks in its own tasks — no corpus-wide window).
    * Output: `(source, rank, doc_id, n_terms, bm25)`. */
  def bm25FacetedTopK(
      docs: DataFrame,
      query: Seq[String],
      perSource: Int = 3,
      facetCol: String = "source",
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(perSource >= 1, "perSource >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(facetCol)).orderBy(col("bm25").desc, col("doc_id"))
    bm25Scores(docs, query, k1, b)
      .join(docs.select(col("doc_id"), col(facetCol)), "doc_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perSource)
      .select(col(facetCol), col("rank"), col("doc_id"), col("n_terms"), col("bm25"))
  }

  /** Deterministic hit snippets: for every document containing at least
    * one `query` term, the `window`-token context around the EARLIEST
    * occurrence of any term — `(doc_id, anchor, snippet)` with `anchor`
    * the 0-based token position and `snippet` the space-joined token
    * slice `[max(0, anchor − window), anchor + window]` clipped to the
    * document. Pure per-row codegen (array_position / slice /
    * array_join over ≤|query| bounded term literals) — map-only, no
    * shuffle at any corpus size. */
  def snippets(
      docs: DataFrame,
      query: Seq[String],
      window: Int = 3): DataFrame = {
    require(query.nonEmpty, "query must have at least one term")
    require(window >= 0, "window >= 0")
    val toks = TextFns.tokens(col("text"))
    // 1-based first position of each term (0 = absent); earliest present
    val poss = query.distinct.map(t => array_position(toks, t))
    val minPos = poss
      .map(p => when(p > 0, p))
      .reduce((a, b) => least(coalesce(a, b), coalesce(b, a)))
    docs
      .withColumn("__ts", toks)
      .withColumn("__p", minPos) // null if no term present
      .filter(col("__p").isNotNull)
      .withColumn("__s", greatest(lit(1L), col("__p") - window))
      .withColumn("__len",
        least(col("__p") + window, size(col("__ts")).cast("long")) - col("__s") + 1L)
      .select(
        col("doc_id"),
        (col("__p") - 1L).as("anchor"),
        array_join(slice(col("__ts"), col("__s").cast("int"), col("__len").cast("int")), " ")
          .as("snippet"))
  }

  // ---------------------------------------------------------------- fusion

  /** Reciprocal-rank fusion over any number of rankings: each input is
    * `(id, rank)` with dense 1-based ranks; an id scores
    * `Σ_arms 1/(rrfK + rank)` (absent-in-arm contributes 0), each arm's
    * reciprocal quantized to DECIMAL(18,8) before the order-free exact
    * sum. Output: top-`k` of `(id, n_arms, rrf)` by `(rrf desc, id)`.
    * The inputs are shortlist frames (top-k of their retrievers), so the
    * union/agg runs on arms·k rows — driver-bounded, never corpus-sized. */
  def rrfFuse(
      rankings: Seq[DataFrame],
      k: Int = 10,
      rrfK: Int = 60,
      idCol: String = "id"): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking")
    require(rrfK >= 1, "rrfK >= 1")
    val contrib = (lit(1.0) /
      (lit(rrfK).cast("double") + col("rank").cast("double"))).cast("decimal(18,8)")
    val tagged = rankings.map(_.select(col(idCol).as("id"), contrib.as("c")))
    tagged.reduce(_.unionByName(_))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_arms"),
        NumFns.floorAt(sum(col("c")).cast("double"), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
  }

  /** Attach dense 1-based ranks to a shortlist frame by the given total
    * order. The frame is a bounded top-k shortlist, so the single-
    * partition window is k-row work, not corpus work (the mmr-pool
    * precedent). */
  def withRank(shortlist: DataFrame, order: Seq[Column]): DataFrame =
    shortlist.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy(order: _*)))

  /** Hybrid lexical+vector retrieval: BM25 top-`poolK` over `docs` fused
    * by RRF with exact-cosine top-`poolK` over `embeddings` (fixture
    * contract: `doc_id` and `vec_id` identify the same item). The arms
    * are independent retrievers; fusion runs on 2·poolK rows. */
  def hybridTopK(
      docs: DataFrame,
      embeddings: DataFrame,
      query: Seq[String],
      queryVec: Seq[Double],
      k: Int = 10,
      poolK: Int = 30,
      rrfK: Int = 60): DataFrame = {
    val lex = withRank(
      bm25TopK(docs, query, poolK).select(col("doc_id").as("id"), col("bm25")),
      Seq(col("bm25").desc, col("id")))
    val vec = withRank(
      SimilarityOps.bruteForceTopK(embeddings, queryVec, poolK)
        .select(col("vec_id").as("id"), col("sim")),
      Seq(col("sim").desc, col("id")))
    rrfFuse(Seq(lex, vec), k, rrfK)
  }
}
