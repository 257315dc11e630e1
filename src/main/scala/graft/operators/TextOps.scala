package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{NumFns, TextFns}

/** Text analysis operators over the documents table (builder mandate §G):
  * language id, quality scoring, token counting, fingerprinting. All
  * single-pass projections or one-shuffle aggregations.
  */
object TextOps {

  /** English-ish stopwords that exist in the synthetic corpus vocabulary. */
  val EnStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Per-doc token statistics. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(TextFns.tokens(col("text"))).as("n_tokens"),
      size(TextFns.tokenSet(col("text"))).as("n_distinct"),
      TextFns.approxBpeCount(col("text")).as("n_bpeish"))

  /** Per-doc corpus-frequency profile — the TF side of an LM-score quality
    * filter (CCNet-style: documents made of corpus-rare tokens are
    * outliers worth flagging; made of ultra-common ones, boilerplate).
    * Shape at 100 TB: one corpus-wide token-frequency aggregation, one
    * token-keyed join back (hot stopword tokens = the classic skewed join;
    * AQE's skew-split applies, unlike window skew), one per-doc
    * aggregation. All-integer arithmetic until the final exact-sum/count
    * division, so the oracle compares exactly. */
  def tokenCommonness(docs: DataFrame, reliable: Boolean = false): DataFrame = {
    // token explosion feeds both the frequency table and the join back:
    // compute once (lineage cut; reliable=true on clusters)
    val toks = Checkpoints.pin(
      docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok")), reliable)
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    toks.join(freq, "tok")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        min(col("c")).as("min_freq"),
        sum(col("c")).as("sum_freq"),
        (sum(col("c")).cast("double") / count(lit(1))).as("mean_freq"))
  }

  /** Corpus statistics per (lang, source). */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        // exact integer sum / count: identical division in every engine,
        // unlike avg() whose accumulation order is engine-specific
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** N-gram-heuristic language id: stopword hits + vowel ratio vote.
    * (The synthetic corpus is language-agnostic; the operator's value is
    * its shape — a deterministic classifier projection.) */
  def langId(docs: DataFrame): DataFrame = {
    val hits = TextFns.stopwordHits(col("text"), EnStopwords)
    val vowelRatio = NumFns.floorAt(
      length(regexp_replace(col("text"), "[^aeiou]", "")) / length(col("text")).cast("double"), 4)
    docs.select(
      col("doc_id"), col("lang").as("lang_label"),
      hits.as("en_stopword_hits"),
      vowelRatio.as("vowel_ratio"),
      when(hits >= 2, "en").otherwise("other").as("lang_guess"))
  }

  /** Per-doc quality scoring. */
  def qualityScores(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(TextFns.tokens(col("text"))).as("n_tokens"),
      NumFns.floorAt(TextFns.punctRatio(col("text")), 4).as("punct_ratio"),
      NumFns.floorAt(TextFns.qualityScore(col("text")), 4).as("quality"))

  /** Model-based quality filter (the trained-classifier stage of C4 /
    * CCNet-descendant pipelines, next to [[qualityRules]]'s hand rules): a
    * linear model over the same auditable features, scored as the raw
    * LOGIT w·x + b. Thresholding the logit is the identical decision to
    * thresholding sigmoid(logit) — sigmoid is monotone — and staying
    * linear keeps the score a fixed-order multiply-add chain that
    * recomputes bit-exactly in any engine (no exp/libm last-ulp
    * divergence). Weights are caller-supplied model coefficients, inlined
    * as literals into one codegen'd map-only projection: broadcastable
    * driver state of size O(#features), no shuffle at any corpus size.
    * `kept` compares the 4-digit-floored logit so both engines threshold
    * the same quantized value. */
  def qualityLogit(
      docs: DataFrame,
      wNTokens: Double,
      wMeanTokLen: Double,
      wPunct: Double,
      wStopword: Double,
      bias: Double,
      threshold: Double): DataFrame = {
    val logit = qualityLogitExpr(col("text"), wNTokens, wMeanTokLen, wPunct, wStopword, bias)
    docs.select(
      col("doc_id"),
      logit.as("logit"),
      (logit >= threshold).as("kept"))
  }

  /** The 4-digit-floored logit as a bare Column, for fusing the quality
    * filter into another plan (e.g. [[CurationOps.curationPipeline]]
    * filters the scan directly instead of joining a scored frame back —
    * the classifier is a projection, not a join). */
  def qualityLogitExpr(
      text: org.apache.spark.sql.Column,
      wNTokens: Double,
      wMeanTokLen: Double,
      wPunct: Double,
      wStopword: Double,
      bias: Double): org.apache.spark.sql.Column = {
    val nTok = size(TextFns.tokens(text))
    val meanTokLen = (length(text) - (nTok - 1)).cast("double") / nTok
    val punct = TextFns.punctRatio(text)
    val hits = TextFns.stopwordHits(text, EnStopwords)
    NumFns.floorAt(
      lit(bias) + lit(wNTokens) * nTok + lit(wMeanTokLen) * meanTokLen +
        lit(wPunct) * punct + lit(wStopword) * hits, 4)
  }

  /** Gopher/C4-style rule-based quality filter: each heuristic is its own
    * boolean column (auditable and composable downstream — a curation
    * pipeline wants to know WHY a doc was dropped, not just that it was);
    * `kept` is their conjunction. Mean token length divides two exact
    * integers, so the rule thresholds compare identically across engines.
    * One map-only codegen pass: no shuffle at any scale. */
  def qualityRules(
      docs: DataFrame,
      minTokens: Int = 30,
      maxTokens: Int = 80,
      minMeanTokLen: Double = 3.8,
      maxMeanTokLen: Double = 4.6,
      maxPunctRatio: Double = 0.2,
      minStopwordHits: Int = 2): DataFrame = {
    val nTok = size(TextFns.tokens(col("text")))
    // tokens are single-space separated: chars minus separators over count
    val meanTokLen = (length(col("text")) - (nTok - 1)).cast("double") / nTok
    val punct = TextFns.punctRatio(col("text"))
    val hits = TextFns.stopwordHits(col("text"), EnStopwords)
    val rLen = nTok >= minTokens && nTok <= maxTokens
    val rTokLen = meanTokLen >= minMeanTokLen && meanTokLen <= maxMeanTokLen
    val rPunct = punct <= maxPunctRatio
    val rStopword = hits >= minStopwordHits
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      NumFns.floorAt(meanTokLen, 4).as("mean_tok_len"),
      rLen.as("r_len"),
      rTokLen.as("r_tok_len"),
      rPunct.as("r_punct"),
      rStopword.as("r_stopword"),
      (rLen && rTokLen && rPunct && rStopword).as("kept"))
  }

  /** Canonical text normalization for dedup: lowercase, strip every char
    * outside [a-z0-9 ], collapse whitespace runs, trim. The standard
    * pre-pass that lets exact dedup catch case/punctuation variants the
    * raw-bytes hash misses. Pure codegen projection. */
  def normalize(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Exact dedup over NORMALIZED text: one keeper (min id) per canonical
    * form — same single-shuffle shape as DedupOps.exact, wider net. */
  def dedupNormalized(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(normalize(col("text"))).as("canon_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Corpus vocabulary: the `topK` most frequent k-token shingles — the
    * vocabulary/statistics pass a tokenizer-training pipeline runs. One
    * shuffle (map-side combined count), then a driver-scale top-k.
    * Deterministic total order: count desc, shingle asc. */
  def ngramVocabulary(docs: DataFrame, k: Int = 2, topK: Int = 50): DataFrame =
    CurationOps.shingleRows(docs, k, hashed = false)
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("shingle"))
      .limit(topK)

  /** Default PII-style scrub list: masks stay digit-free and outside the
    * corpus alphabet so a later pattern can never re-match an earlier
    * pattern's mask. Restricted to the regex subset where Java (Spark) and
    * RE2-family engines agree: literal words, `\b`, digit classes. */
  val RedactPatterns: Seq[(String, String)] = Seq(
    "\\bcustomer\\b" -> "<NAME>",
    "[0-9]+" -> "<NUM>",
    "\\bkey\\b" -> "<KEY>")

  /** PII-style regex scrubbing: every pattern is replaced (all occurrences)
    * by its mask, in order; `n_redactions` counts the matches of pattern i
    * against the text AFTER patterns 0..i-1 applied — i.e. exactly the
    * spans that were masked, even when patterns overlap. Empty pattern
    * lists are legal (0 redactions, text unchanged). The patterns stick to
    * the regex subset where Java (Spark) and RE2-family engines agree —
    * literal alternations, `\b`, character classes — so the operator is
    * oracle-checkable. Pure codegen projection: at 100 TB this is a
    * map-only pass, no shuffle. */
  def redact(docs: DataFrame, patterns: Seq[(String, String)]): DataFrame = {
    val (redacted, nRedactions) =
      patterns.foldLeft((col("text"), lit(0))) { case ((txt, n), (pat, mask)) =>
        (regexp_replace(txt, pat, mask),
         n + size(regexp_extract_all(txt, lit(pat), lit(0))))
      }
    docs.select(
      col("doc_id"),
      nRedactions.cast("int").as("n_redactions"),
      redacted.as("redacted"))
  }

  /** Per-doc distinctive terms — the TF-IDF shape with EXACT integer
    * ranking: terms ordered by (document frequency asc, term frequency
    * desc, term asc), top `perDoc` per document. Avoiding the float idf
    * log keeps the operator bit-reproducible across engines while ranking
    * identically to tf-idf for fixed tf (log is monotonic in df).
    * Shape at 100 TB: token explode -> (doc,tok) count -> corpus df agg ->
    * token-keyed join back (AQE skew-split applies) -> per-doc top-k
    * window. Same two-shuffle skeleton as tokenCommonness. */
  def distinctiveTerms(docs: DataFrame, perDoc: Int = 3): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("tf").desc, col("tok").asc)
    tf.join(df, "tok")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perDoc)
      .select(col("doc_id"), col("tok").as("term"), col("tf"), col("df"), col("rank"))
  }

  /** Fixed-size token-window chunking with overlap — the context-window /
    * RAG prep pass that splits every document into `chunkSize`-token
    * windows starting every `stride` tokens (stride < chunkSize =>
    * overlapping windows; the tail window may be short). Map-only
    * projection + explode: no shuffle, distributes trivially. */
  def chunkTokens(docs: DataFrame, chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val t = TextFns.tokens(col("text"))
    val starts = sequence(lit(0), size(t) - 1, lit(stride))
    docs
      .select(col("doc_id"), t.as("__t"), explode(starts).as("__s"))
      .select(
        col("doc_id"),
        (col("__s") / stride).cast("int").as("chunk_idx"),
        slice(col("__t"), col("__s") + 1, lit(chunkSize)).as("__c"))
      .select(
        col("doc_id"), col("chunk_idx"),
        size(col("__c")).as("n_chunk_tokens"),
        concat_ws(" ", col("__c")).as("chunk_text"))
  }

  /** Co-occurrence lift over document-level token sets: for token pairs
    * appearing together in >= `minPairDocs` documents, lift =
    * P(x,y)/(P(x)P(y)) — the association-mining pass behind embedding /
    * phrase-table training. Reported in EXACT basis points via integer
    * floor division (c_xy * N * 10000 div (c_x * c_y)), so both engines
    * rank identically with zero float drift. The numerator is computed in
    * DECIMAL(38,0): c_xy and N both grow with the corpus, so the Long
    * product overflows beyond ~3e7 documents.
    * Shape at 100 TB: per-doc DISTINCT token explode, within-doc pair
    * self-join (bounded by doc length, not corpus size), one pair-keyed
    * count, token-keyed df joins. The pair shuffle is the big one and it
    * is keyed on (tok1, tok2) — no all-pairs blowup across documents. */
  /** lift in exact basis points: c_xy * n * 10000 div (c_x * c_y), BOTH
    * sides of the division in DECIMAL(38,0): corpus-scale counts overflow
    * the Long product in the numerator (c_xy, n ~ 1e11 at 100 TB =>
    * ~ 1e26) AND the denominator (c_x * c_y ~ 1e22) — 1e26 << 1e38 is
    * safe. DIV on decimal operands is Spark IntegralDivide => BIGINT out. */
  private[graft] val liftBpExpr =
    expr("CAST(CAST(c_xy AS DECIMAL(38,0)) * __n * 10000" +
      " DIV (CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)")

  def cooccurrenceLift(docs: DataFrame, topK: Int = 50, minPairDocs: Long = 2L): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(TextFns.tokenSet(col("text"))).as("tok"))
    val pairs = toks.as("a")
      .join(toks.as("b"), col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok1"), col("b.tok").as("tok2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minPairDocs)
    val df = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val n = docs.select(count(lit(1)).as("__n"))
    pairs
      .join(df.select(col("tok").as("tok1"), col("c").as("c_x")), "tok1")
      .join(df.select(col("tok").as("tok2"), col("c").as("c_y")), "tok2")
      .crossJoin(broadcast(n)) // one-row corpus size
      .select(
        col("tok1"), col("tok2"), col("c_xy"), col("c_x"), col("c_y"),
        liftBpExpr.as("lift_bp"))
      .orderBy(col("lift_bp").desc, col("tok1"), col("tok2"))
      .limit(topK)
  }

  /** Per-doc unigram language-model score — the KenLM-style quality signal
    * computed from the corpus itself: mean over tokens of
    * ln(corpus_freq(tok) / corpus_tokens). More negative = rarer tokens =
    * outlier doc; boilerplate scores near zero. Float output is floored at
    * 4 digits (NumFns.floorAt convention). Same skeleton as
    * tokenCommonness: corpus freq agg + token join back + per-doc agg. */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = freq.select(sum(col("c")).as("__total"))
    // per-token logs are quantized to DECIMAL(18,8) BEFORE summing: a
    // double sum is accumulation-order-sensitive (engine/partition
    // dependent), a decimal sum is exact and order-free; 1e-8 quantization
    // is far below any quality-threshold use of the score
    val lp = log(col("c").cast("double") / col("__total").cast("double"))
      .cast("decimal(18,8)")
    toks.join(freq, "tok")
      .crossJoin(broadcast(total)) // one-row corpus token count
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        NumFns.floorAt(
          sum(lp).cast("double") / count(lit(1)).cast("double"), 4).as("avg_logprob"))
  }

  /** Corpus bigram-LM quality score — the CCNet-style perplexity filter
    * one Markov order above [[unigramLogProb]]: per-doc mean of
    * log P(tok_i | tok_{i-1}) with corpus MLE estimates
    * c(w1,w2) / c(w1,·) over consecutive token pairs (contexts counted as
    * bigram left-sides, so edge effects cancel exactly).
    *
    * Plan: window-lead pair rows (doc-keyed window — bounded by document
    * length, never corpus-keyed) → two hash aggregations for pair and
    * context counts (map-side combined) → pair-keyed join back → per-doc
    * aggregation. Per-pair logs quantize to DECIMAL(18,8) BEFORE summing,
    * the same order-free-exact-sum convention as unigramLogProb. Docs
    * with fewer than two tokens have no bigrams and drop out, matching
    * the SQL GROUP BY over pairs. */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(
      col("doc_id"), posexplode(TextFns.tokens(col("text"))).as(Seq("p", "w1")))
    val pairs = toks
      .withColumn("w2",
        lead(col("w1"), 1).over(Window.partitionBy(col("doc_id")).orderBy(col("p"))))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("w1"), col("w2"))
    val pairFreq = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val ctxFreq = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val lp = log(col("c2").cast("double") / col("c1").cast("double"))
      .cast("decimal(18,8)")
    pairs.join(pairFreq, Seq("w1", "w2")).join(ctxFreq, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        NumFns.floorAt(
          sum(lp).cast("double") / count(lit(1)).cast("double"), 4).as("avg_logprob"))
  }

  /** The shared feature template of the logit quality/language
    * classifier — column names in training order. [[logitFeatures]]
    * emits them, [[logitTrain]]/[[logitScoreFeatures]] default to them,
    * and the streamed maintainer's delta schema derives from them, so
    * the model dimension d lives in ONE place (the xCols seam — an
    * engine replaying the descent generates one CTE pair per step over
    * exactly this list). */
  val LogitXCols: Seq[String] = Seq("x0", "x1", "x2", "x3", "x4", "x5", "x6")

  /** Deterministic per-doc feature vector for [[logitTrain]] — the
    * engine-computable signals a CCNet/fastText-style quality or language
    * classifier trains on: bias, English-stopword ratio, type–token
    * ratio, character length, punctuation ratio, mean token length,
    * uppercase ratio (the [[qualityRules]] signals promoted into the
    * trained model — same GLM determinism recipe, richer d). Every
    * feature is a ratio of exact integer counts (or an exact count
    * scaled by a constant), so both engines derive bit-identical
    * doubles; mean token length is rescaled by 1/10 to keep every
    * feature O(1) (one shared lrDen then fits all gradient
    * magnitudes). Label: `lang = 'en'`. Output:
    * `(doc_id, y, x0..x6)` — columns per [[LogitXCols]]. */
  def logitFeatures(docs: DataFrame,
      label: org.apache.spark.sql.Column =
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0))): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val n = size(toks)
    docs.select(col("doc_id"),
      label.as("y"),
      lit(1.0).as("x0"),
      (size(filter(toks, t => t.isin(EnStopwords: _*))).cast("double") / n).as("x1"),
      (size(array_distinct(toks)).cast("double") / n).as("x2"),
      (col("n_chars") / lit(1000.0)).as("x3"),
      // x4/x6 denominators guard the empty doc: length 0 would divide by
      // zero (NULL in Spark, NaN/inf in other engines — either poisons the
      // gradient sums); greatest(..,1) makes both ratios an exact 0.0
      (length(regexp_replace(col("text"), "[a-zA-Z0-9\\s]", "")).cast("double")
        / greatest(length(col("text")), lit(1))).as("x4"),
      ((length(col("text")) - (n - 1)).cast("double") / n / lit(10.0)).as("x5"),
      (length(regexp_replace(col("text"), "[^A-Z]", "")).cast("double")
        / greatest(length(col("text")), lit(1))).as("x6"))
  }

  /** Distributed full-batch logistic-regression TRAINING with bit-exact
    * cross-engine replay — the missing half of [[qualityLogit]] (which
    * only scores with given weights): estimate the weights themselves on
    * the corpus, inside the engine, deterministically enough that an
    * independent engine replays the whole descent to the same bits.
    *
    * The determinism recipe (floating-point gradient sums are
    * accumulation-order-sensitive, so naive GD is not replayable):
    *
    *  - weights live as INTEGER units of 1e-8 (`Seq[Long]`), entering
    *    expressions as `(units · 1e-8) · x` — double arithmetic with a
    *    fixed shape both engines evaluate identically;
    *  - each row's gradient contribution `x_j · (σ(w·x) − y)` is FLOORED
    *    to integer 1e-8 units and summed as DECIMAL(38,0) — an exact,
    *    order-free integer sum (the BM25 quantize-then-sum discipline,
    *    in integer form);
    *  - the update divides by the power-of-two `lrDen` via
    *    `floor(gradUnits / lrDen)` in doubles — deterministic floor,
    *    no truncation-direction mismatch (integer DIV truncates toward
    *    zero in Spark but floors in DuckDB; double floor agrees).
    *
    * Full-batch = one partial-aggregated pass per step over the pinned
    * features frame; driver state is the d-long weight vector (the
    * bounded-driver-state convention, cf. learnBpe's loop). σ's `exp`
    * differs across engines only in the last ulp, absorbed by the 1e-8
    * flooring — the same accepted-risk class as the `ln` pinning. */
  def logitTrain(
      features: DataFrame,
      xCols: Seq[String] = LogitXCols,
      yCol: String = "y",
      steps: Int = 3,
      lrDen: Double = 4096.0): Seq[Long] =
    gdDescend(features, xCols, yCol, steps, lrDen,
      z => lit(1.0) / (lit(1.0) + exp(-z)))

  /** Poisson (log-link) GLM trainer — [[logitTrain]]'s determinism
    * recipe generalized to the other canonical exponential-family link:
    * minimize the Poisson NLL Σ exp(w·x) − y·(w·x) (the data-only ln y!
    * term dropped); the canonical-link gradient is x_j·(exp(w·x) − y) —
    * the logit recipe with the mean function swapped, so the unrolled
    * CTE replay is the same SQL with `exp(z)` in place of the sigmoid.
    *
    * The OUTCOME must be pre-scaled by the caller (e.g. the token count
    * in kilotokens, n_tokens / 1000) so exp(w·x) stays O(0.1): the exp last-ulp
    * floor-boundary risk scales with exp(z)·1e8, and keeping the mean
    * well under 1 keeps that collision class at the logit trainer's
    * negligible level (ulp·1e8 ≈ 1e-9). Descending from w = 0 the mean
    * only moves DOWN toward a sub-1 target, so exp stays bounded by 1
    * throughout — no step can overflow. */
  def glmTrainLog(
      features: DataFrame,
      xCols: Seq[String] = LogitXCols,
      yCol: String = "y",
      steps: Int = 3,
      lrDen: Double = 4096.0): Seq[Long] =
    gdDescend(features, xCols, yCol, steps, lrDen, z => exp(z))

  /** The shared full-batch GD loop of [[logitTrain]] / [[glmTrainLog]]:
    * integer-unit weights, per-row gradient `x_j · (μ(w·x) − y)` floored
    * to 1e-8 units and summed as DECIMAL(38,0) (order-free exact),
    * power-of-two lrDen applied by double floor — only the mean
    * function μ differs per link. */
  private def gdDescend(features: DataFrame, xCols: Seq[String], yCol: String,
      steps: Int, lrDen: Double,
      muOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[Long] = {
    require(steps >= 1, "steps must be >= 1")
    require(lrDen > 0, "lrDen must be positive")
    // pin once: each step is a full pass; without the pin every step
    // re-derives the features from the corpus scan (the frame is slim —
    // d+2 doubles per doc — so re-pinning an already-pinned input costs
    // one cheap materialization, not a corpus re-scan)
    val f = Checkpoints.pin(features, reliable = false)
    var w = Seq.fill(xCols.size)(0L)
    for (_ <- 1 to steps) {
      val z = xCols.zip(w).map { case (x, u) => lit(u) * lit(1e-8) * col(x) }
        .reduce(_ + _)
      val mu = muOf(z)
      val aggs = xCols.map(x =>
        sum(floor(col(x) * (mu - col(yCol)) * lit(1e8)).cast("decimal(38,0)")))
      val row = f.agg(aggs.head, aggs.tail: _*).head()
      w = w.indices.map { j =>
        val g = Option(row.getDecimal(j)).map(_.doubleValue).getOrElse(0.0)
        w(j) - math.floor(g / lrDen).toLong
      }.toSeq
    }
    w
  }

  /** Train-and-score in one call: [[logitFeatures]] → [[logitTrain]] →
    * per-doc final logit `w·x` (6-digit floor). Output:
    * `(doc_id, label, logit)` — the registered-query face of the
    * trainer; an engine replaying the descent must land on the same
    * weights to match these logits. */
  def logitTrainScore(docs: DataFrame, steps: Int = 3,
      lrDen: Double = 4096.0): DataFrame = {
    val f = Checkpoints.pin(logitFeatures(docs), reliable = false)
    logitScoreFeatures(f, logitTrain(f, steps = steps, lrDen = lrDen))
  }

  /** Feature-HASHED logistic regression — [[logitTrain]] at fastText
    * shape: instead of d hand-picked dense features, every token hashes
    * into one of `nBuckets` buckets ([[TextFns.polyFingerprint]] `% n` —
    * the cross-engine hash the DSIR row already replays) and the model
    * is a WEIGHT FRAME `(bkt, u)` rather than a driver vector, so the
    * feature space scales to any bucket count without driver state. The
    * per-doc activation is `z = (Σ_bkt cnt · u) · 1e-8` — an EXACT
    * integer sum with ONE double conversion per doc (stronger
    * determinism than the dense version's per-term double adds); the
    * per-(doc, bkt) gradient contributions floor to 1e-8 units and sum
    * per bucket as DECIMAL(38,0); the update joins the gradient frame
    * back (same bucket set every step — every occupied bucket
    * contributes every step). Per step: one broadcast-sized weights
    * join + a doc-keyed aggregation + a bucket-keyed aggregation,
    * pinned per iteration (the learnBpe loop discipline).
    *
    * Output: `(idCol, label, logit)` — the trained model's final
    * activations (6-digit floor), label = `lang = 'en'`. */
  def logitTrainHashed(
      docs: DataFrame,
      nBuckets: Int = 64,
      steps: Int = 3,
      lrDen: Double = 4096.0,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(nBuckets >= 2 && steps >= 1 && lrDen > 0,
      "nBuckets >= 2, steps >= 1, lrDen > 0")
    val tokb = Checkpoints.pin(
      docs.select(col(idCol),
          when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("__y"),
          explode(TextFns.tokens(col(textCol))).as("__tok"))
        .withColumn("__bkt",
          TextFns.polyFingerprint(col("__tok")) % lit(nBuckets.toLong))
        .groupBy(col(idCol), col("__y"), col("__bkt"))
        .agg(count(lit(1)).as("__cnt")),
      reliable = false)
    def zDoc(w: DataFrame): DataFrame = tokb.join(w, Seq("__bkt"))
      .groupBy(col(idCol), col("__y"))
      .agg(sum(col("__cnt") * col("__u")).as("__zu"))
    var w = Checkpoints.pin(
      tokb.select(col("__bkt")).distinct().withColumn("__u", lit(0L)),
      reliable = false)
    for (_ <- 1 to steps) {
      val resid = zDoc(w).select(col(idCol),
        (lit(1.0) / (lit(1.0) + exp(-(col("__zu").cast("double") * lit(1e-8))))
          - col("__y")).as("__r"))
      val g = tokb.join(resid, Seq(idCol))
        .groupBy(col("__bkt"))
        .agg(sum(floor(col("__cnt") * col("__r") * lit(1e8))
          .cast("decimal(38,0)")).as("__g"))
      w = Checkpoints.pin(
        w.join(g, Seq("__bkt"))
          .select(col("__bkt"),
            (col("__u") - floor(col("__g").cast("double") / lit(lrDen))
              .cast("long")).as("__u")),
        reliable = false)
    }
    zDoc(w).select(col(idCol), col("__y").as("label"),
      NumFns.floorAt(col("__zu").cast("double") * lit(1e-8), 6).as("logit"))
  }

  /** The train→evaluate loop closer: exact confusion counts of a
    * [[logitTrainScore]]-shaped frame at the logit-0 decision boundary,
    * plus precision/recall/F1 in single-division forms (6-digit floor,
    * zero-denominator → 0). One map-side-combined aggregation; every
    * count is an exact integer, so the derived ratios replay
    * bit-identically. */
  def logitConfusion(scored: DataFrame): DataFrame = {
    val pos = col("logit") >= lit(0.0)
    val y1 = col("label") === lit(1.0)
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    scored.agg(cnt(y1 && pos).as("tp"), cnt(!y1 && pos).as("fp"),
        cnt(y1 && !pos).as("fn"), cnt(!y1 && !pos).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        NumFns.floorAt(when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")))
          .otherwise(lit(0.0)), 6).as("precision_"),
        NumFns.floorAt(when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")))
          .otherwise(lit(0.0)), 6).as("recall_"),
        NumFns.floorAt(when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          (lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")))
          .otherwise(lit(0.0)), 6).as("f1"))
  }

  /** Multi-class evaluation of an `(id, label, pred)` frame — the
    * [[logitConfusion]] loop-closer for the NB classifier (and any other
    * multi-class predictor): exact per-class one-vs-rest confusion
    * counts (tp, fp, fn) via one aggregation over the bounded class
    * list (label ∪ pred values — a class the model never predicts still
    * gets its recall row), precision/recall/F1 in single-division
    * 6-digit-floored forms (zero denominator → 0, the [[logitConfusion]]
    * convention), plus the shared macro-F1: the mean of the FLOORED
    * per-class F1s, summed as exact decimals so the tiny cross-class
    * sum is order-free and both engines derive the identical double.
    * Scale shape: docs fan out over the bounded class list (broadcast,
    * the [[nbScore]] discipline) into one map-side-combined aggregation;
    * the metrics frame is class-cardinality. Output: one row per class,
    * `(class, tp, fp, fn, precision_, recall_, f1, macro_f1)`. */
  def classEval(scoredIn: DataFrame, labelCol: String = "label",
      predCol: String = "pred"): DataFrame = {
    // the scored frame is derived three times below (both legs of the
    // class-list union + the confusion pivot); its upstream is typically a
    // whole train→score pipeline, so pin the slim (id,label,pred) frame
    // once rather than replaying the scoring 3x (the [[logitAuc]] idiom)
    val scored = Checkpoints.pin(scoredIn, reliable = false)
    val cls = scored.select(col(labelCol).as("class"))
      .union(scored.select(col(predCol).as("class"))).distinct()
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val base = scored.crossJoin(broadcast(cls))
      .groupBy(col("class"))
      .agg(
        cnt(col(labelCol) === col("class") && col(predCol) === col("class")).as("tp"),
        cnt(col(labelCol) =!= col("class") && col(predCol) === col("class")).as("fp"),
        cnt(col(labelCol) === col("class") && col(predCol) =!= col("class")).as("fn"))
    val prf = base.select(col("class"), col("tp"), col("fp"), col("fn"),
      NumFns.floorAt(when(col("tp") + col("fp") > 0,
        col("tp").cast("double") / (col("tp") + col("fp")))
        .otherwise(lit(0.0)), 6).as("precision_"),
      NumFns.floorAt(when(col("tp") + col("fn") > 0,
        col("tp").cast("double") / (col("tp") + col("fn")))
        .otherwise(lit(0.0)), 6).as("recall_"),
      NumFns.floorAt(when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
        (lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")))
        .otherwise(lit(0.0)), 6).as("f1"))
    val macroRow = prf.agg(NumFns.floorAt(
      sum(col("f1").cast("decimal(18,6)")).cast("double")
        / count(lit(1)).cast("double"), 6).as("macro_f1"))
    prf.crossJoin(broadcast(macroRow))
  }

  /** Exact ROC-AUC of a `(label, logit)`-scored frame — the
    * threshold-free companion of [[logitConfusion]], computed as the
    * tie-aware Mann–Whitney statistic over per-SCORE-TYPE counts:
    *
    *   AUC = Σ_s n1(s) · (2·N0(&lt;s) + n0(s)) / (2 · N1 · N0)
    *
    * with n0/n1 the per-distinct-score negative/positive counts and
    * N0(&lt;s) the negatives strictly below s — ties contribute half (the
    * standard mid-rank convention, kept integer by the ×2). Scores
    * quantize to integer 1e-6 units first (they are already 6-digit
    * floored, so this is lossless and both engines land the identical
    * long), making everything integer algebra summed as exact decimals
    * until ONE final double division — bit-exact replay, 6-digit floor.
    *
    * Scale shape: the corpus collapses to per-score-type counts in one
    * map-side-combined hash agg. The running total N0(&lt;s) runs
    * TWO-PHASE like [[CurationOps.exactQuantiles]]: units shift
    * non-negative by the (1-row broadcast) minimum and bucket by
    * `DIV rangeWidth`; per-range offsets roll over the BOUNDED range
    * frame and the in-range window partitions by range — no corpus-wide
    * single-partition window at any score cardinality. Zero
    * positives/negatives → auc 0 (degenerate, flagged by the count
    * columns). Output: one row `(n_pos, n_neg, auc)`. */
  def logitAuc(scored: DataFrame, labelCol: String = "label",
      scoreCol: String = "logit", rangeWidth: Long = 64L): DataFrame = {
    require(rangeWidth >= 1, "rangeWidth must be >= 1")
    val byScore = Checkpoints.pin(
      scored.select(
          floor(col(scoreCol) * lit(1e6)).cast("long").as("__u"),
          when(col(labelCol) === lit(1.0), 1L).otherwise(0L).as("__y"))
        .groupBy(col("__u"))
        .agg(sum(col("__y")).as("__n1"), sum(lit(1L) - col("__y")).as("__n0")),
      reliable = false)
    val minU = byScore.agg(min(col("__u")).as("__minu"))
    val ranged = byScore.crossJoin(broadcast(minU))
      .withColumn("__r", expr(s"(__u - __minu) DIV ${rangeWidth}L"))
    val wR = Window.orderBy(col("__r"))
    val rangeOffs = ranged.groupBy(col("__r")).agg(sum(col("__n0")).as("__rc"))
      .withColumn("__roff", coalesce(
        sum(col("__rc")).over(wR.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__r"), col("__roff"))
    val wIn = Window.partitionBy(col("__r")).orderBy(col("__u"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.join(rangeOffs, Seq("__r")) // AQE broadcasts the bounded offsets
      .withColumn("__nbelow", col("__roff") + coalesce(sum(col("__n0")).over(wIn), lit(0L)))
      .agg(sum(col("__n1")).as("__N1"), sum(col("__n0")).as("__N0"),
        // cast BEFORE the multiply: long × long would wrap at corpus scale
        sum(col("__n1").cast("decimal(19,0)") *
          (lit(2L) * col("__nbelow") + col("__n0")).cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("__num"))
      .select(col("__N1").as("n_pos"), col("__N0").as("n_neg"),
        NumFns.floorAt(when(col("__N1") > 0 && col("__N0") > 0,
          col("__num").cast("double")
            / (lit(2.0) * col("__N1").cast("double") * col("__N0").cast("double")))
          .otherwise(lit(0.0)), 6).as("auc"))
  }

  /** Reliability diagram (calibration bins) of a `(label, logit)`-scored
    * frame: fixed-width logit bins `floor(logit · binsPerUnit)` (the
    * 6-digit-floored logit is the identical double in both engines, so
    * the bin id replays exactly — rank-free on purpose: ntile ties are
    * engine-dependent), per bin the exact count, positive count, positive
    * fraction (floored ratio of exact integers) and mean logit (summed
    * as exact integer 1e-6 units, ONE double division at the end). A
    * well-calibrated classifier has frac_pos ≈ sigmoid(mean logit) per
    * bin; the drift between them is the Platt-scaling signal. One
    * map-side-combined aggregation; the output is bin-cardinality.
    * Output: `(bin, n, n_pos, frac_pos, mean_logit)`. */
  def logitCalibration(scored: DataFrame, binsPerUnit: Int = 1024,
      labelCol: String = "label", scoreCol: String = "logit"): DataFrame =
    scored.select(
        floor(col(scoreCol) * lit(binsPerUnit.toDouble)).cast("long").as("bin"),
        floor(col(scoreCol) * lit(1e6)).cast("long").as("__u"),
        when(col(labelCol) === lit(1.0), 1L).otherwise(0L).as("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_pos"),
        sum(col("__u").cast("decimal(38,0)")).as("__su"))
      .select(col("bin"), col("n"), col("n_pos"),
        NumFns.floorAt(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("frac_pos"),
        NumFns.floorAt(
          col("__su").cast("double") / col("n").cast("double") / lit(1e6), 6)
          .as("mean_logit"))

  /** Per-doc logistic loss of a `(label, logit)`-scored frame, as an
    * exact DECIMAL(18,8): y ∈ {0,1} selects one branch, so the loss is
    * a single `ln` of the sigmoid (or its complement) on the floored
    * logit, quantized BEFORE any aggregation — the engine-replayable
    * evidence the mixing-weight learner ([[CurationOps.doremiWeights]])
    * folds per domain. Output: input columns + `loss DECIMAL(18,8)`. */
  def logitLossPerDoc(scored: DataFrame, labelCol: String = "label",
      scoreCol: String = "logit"): DataFrame = {
    val sig = lit(1.0) / (lit(1.0) + exp(-col(scoreCol)))
    scored.withColumn("loss",
      when(col(labelCol) === lit(1.0), (-log(sig)).cast("decimal(18,8)"))
        .otherwise((-log(lit(1.0) - sig)).cast("decimal(18,8)")))
  }

  /** Min-K% probability membership signal (Shi et al., "Detecting
    * Pretraining Data from Large Language Models", ICLR 2024): per doc,
    * the mean of its k-percent LOWEST token log-probabilities under a
    * reference unigram LM (add-one smoothing over exact counts).
    * Training-set members lack the low-probability outlier tokens fresh
    * text has, so a HIGH min-K% mean flags a membership suspect — the
    * model-side complement of the n-gram novelty audit.
    *
    * Determinism: each distinct token's ln((c+1)/(T+V)) quantizes to
    * DECIMAL(18,8); the bottom set is selected by VALUE cutoff over the
    * per-(doc, lp) multiplicity frame — the sum of the m smallest values
    * is unique even when tied instances straddle the cutoff, so no
    * per-instance ordering exists to drift; the boundary group
    * contributes `least(m, k − seen)` copies. One double division at
    * the end, 4-digit floor. The k = ceil(pct·n) count is computed in
    * DOUBLE on both engines (a decimal 0.2 would ceil differently on
    * exact multiples).
    *
    * Plan: the LM is one hash agg (type counts) + a 1-row broadcast
    * (T, V); docs collapse to distinct (doc, token) with multiplicities
    * BEFORE the model join; the cutoff windows run per doc over the
    * doc's distinct-lp frame (bounded by doc vocabulary, never
    * corpus-keyed). Output: `(idCol, n_tokens, mink_mean)`. */
  def minKProb(
      docs: DataFrame,
      lmDocs: DataFrame,
      kPercent: Int = 20,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(kPercent >= 1 && kPercent <= 100, "kPercent in [1, 100]")
    val cnt = Checkpoints.pin(
      lmDocs.select(explode(TextFns.tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("__c")),
      reliable = false)
    val tot = cnt.agg(sum(col("__c")).as("__t"), count(lit(1)).as("__v"))
    val dtoks = docs
      .select(col(idCol), explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("__m0"))
    val lp = log((coalesce(col("__c"), lit(0L)).cast("double") + lit(1.0))
      / (col("__t") + col("__v"))).cast("decimal(18,8)")
    val byLp = dtoks.join(cnt, Seq("w"), "left").crossJoin(broadcast(tot))
      .select(col(idCol), lp.as("__lp"), col("__m0"))
      .groupBy(col(idCol), col("__lp")).agg(sum(col("__m0")).as("__m"))
    val wDoc = Window.partitionBy(col(idCol))
    val wAsc = Window.partitionBy(col(idCol)).orderBy(col("__lp"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byLp
      .withColumn("__n", sum(col("__m")).over(wDoc))
      .withColumn("__bef", coalesce(sum(col("__m")).over(wAsc), lit(0L)))
      .withColumn("__k",
        ceil(lit(kPercent / 100.0) * col("__n")).cast("long"))
      .filter(col("__bef") < col("__k"))
      .withColumn("__take", least(col("__m"), col("__k") - col("__bef")))
      .groupBy(col(idCol))
      .agg(max(col("__n")).as("n_tokens"), max(col("__k")).as("__kk"),
        sum(col("__lp") * col("__take").cast("decimal(10,0)")).as("__s"))
      .select(col(idCol), col("n_tokens"),
        NumFns.floorAt(
          col("__s").cast("double") / col("__kk").cast("double"), 4)
          .as("mink_mean"))
  }

  /** Priors-only ablation of the NB classifier — the majority-class
    * baseline: every doc takes the class with the largest document
    * prior (ties break class-asc, the [[nbScore]] tie-break). Running
    * [[classEval]] over this against the same held-out labels is the
    * floor the token model's lift is measured from. Output:
    * `(idCol, pred)`. */
  def nbPriorsScore(docs: DataFrame, lmDocs: DataFrame,
      classCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    val w = Window.orderBy(col("__dc").desc, col("__c"))
    val top = lmDocs.groupBy(col(classCol).as("__c")).agg(count(lit(1)).as("__dc"))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("__c").as("pred"))
    docs.select(col(idCol)).crossJoin(broadcast(top))
  }

  /** Multinomial Naive Bayes classifier — trained IN the engine over a
    * labeled reference corpus, classifying new documents: the generative
    * complement of [[logitTrain]] (and a TRAINED language identifier
    * next to the heuristic [[langId]]). Add-one smoothing:
    *
    *   score(d, c) = ln(D_c / D) + Σ_w cnt_dw · ln((n(c,w) + 1) / (T_c + V))
    *
    * with n(c,w) the class-token counts, T_c the class token total, V the
    * LM vocabulary size, D_c/D the document priors — ALL exact integers,
    * so the only transcendental is ln, quantized to DECIMAL(18,8) before
    * the multiplicity-weighted exact sum; the per-(doc, class) score is a
    * pure decimal (no division after the logs), making the argmax — and
    * its (score desc, class asc) tie-break — bit-deterministic across
    * engines. Unseen (c, w) pairs take the smoothed floor via the left
    * join's null → 0.
    *
    * Scale shape: model frames are (class × token-type) counts; scored
    * docs collapse to distinct (doc, token) with multiplicities, fan out
    * over the bounded class list (broadcast), and join the model on
    * (class, token). Output: `(idCol, pred, score)` — the winning class
    * per document. */
  def nbTrainScore(
      docs: DataFrame,
      lmDocs: DataFrame,
      classCol: String = "lang",
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lmToks = lmDocs.select(col(classCol).as("__c"),
      explode(TextFns.tokens(col(textCol))).as("w"))
    val ncw = Checkpoints.pin(
      lmToks.groupBy(col("__c"), col("w")).agg(count(lit(1)).as("__n")),
      reliable = false)
    val cls = Checkpoints.pin(
      lmDocs.groupBy(col(classCol).as("__c")).agg(count(lit(1)).as("__dc")),
      reliable = false)
    nbScore(docs, ncw, cls, idCol, textCol)
  }

  /** [[nbTrainScore]]'s scoring half over prebuilt model frames —
    * `ncw = (__c, w, __n)` class-token counts, `cls = (__c, __dc)`
    * class document counts (the two frames a streamed maintainer lands —
    * [[graft.streaming.StreamingOps.nbCountsStream]]; T_c, V and the
    * priors all derive from them). */
  def nbScore(docs: DataFrame, ncw: DataFrame,
      cls: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = ncw.groupBy(col("__c")).agg(sum(col("__n")).as("__t"))
    val vocabN = ncw.select(col("w")).distinct().agg(count(lit(1)).as("__v"))
    val dTot = cls.agg(sum(col("__dc")).as("__d"))
    val prior = cls.crossJoin(broadcast(dTot))
      .select(col("__c"),
        log(col("__dc").cast("double") / col("__d")).cast("decimal(18,8)")
          .as("__lnp"))
    val dtoks = docs.select(col(idCol), explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("__cnt"))
    val lp = log((coalesce(col("__n"), lit(0L)).cast("double") + lit(1.0)) /
      (col("__t") + col("__v"))).cast("decimal(18,8)")
    val scoredByClass = dtoks
      .crossJoin(broadcast(cls.select(col("__c")))) // bounded class list
      .join(ncw, Seq("__c", "w"), "left")
      .join(tc, Seq("__c"))
      .join(prior, Seq("__c"))
      .crossJoin(broadcast(vocabN))
      .groupBy(col(idCol), col("__c"))
      .agg((max(col("__lnp")) +
        // cnt as decimal(10,0): a BIGINT operand would push the product's
        // precision past 38 and Spark SILENTLY reduces the scale (the
        // -266.404263 vs -266.40426289 class of drift); (18,8)x(10,0) =
        // (29,8) stays exact, and per-doc multiplicities fit 10 digits.
        // The sum then narrows back to (29,8) — value-exact, it fits by
        // magnitude — so the prior addition stays within precision 38
        // and keeps scale 8 (an unnarrowed (38,8) operand would reduce
        // the result to scale 7 the same silent way)
        sum(lp * col("__cnt").cast("decimal(10,0)")).cast("decimal(29,8)"))
        .as("__score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("__score").desc, col("__c"))
    scoredByClass.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__c").as("pred"),
        col("__score").cast("double").as("score"))
  }

  /** Score a [[logitFeatures]]-shaped frame under trained unit-weights. */
  def logitScoreFeatures(features: DataFrame, w: Seq[Long],
      xCols: Seq[String] = LogitXCols): DataFrame = {
    val z = xCols.zip(w).map { case (x, u) => lit(u) * lit(1e-8) * col(x) }
      .reduce(_ + _)
    features.select(col("doc_id"), col("y").as("label"),
      NumFns.floorAt(z, 6).as("logit"))
  }

  /** Consecutive-token pairs per document — the window-lead extraction
    * [[bigramLogProb]] uses, shared with the Kneser–Ney family. The
    * doc-keyed window is bounded by document length, never corpus-keyed. */
  private def consecPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol), posexplode(TextFns.tokens(col(textCol))).as(Seq("p", "w1")))
    toks
      .withColumn("w2",
        lead(col("w1"), 1).over(Window.partitionBy(col(idCol)).orderBy(col("p"))))
      .filter(col("w2").isNotNull)
      .select(col(idCol), col("w1"), col("w2"))
  }

  /** Raw corpus unigram counts `(w, c)` — the Kneser–Ney model's vocabulary
    * evidence, and the per-batch delta shape its streaming twin lands
    * (counts are additive, so the maintained frames fold by SUM over
    * source-tagged partials — the [[writeShingleIndex]] discipline). */
  def knUnigramCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** Raw consecutive-pair counts `(w1, w2, c)` — the other Kneser–Ney model
    * frame / streamed delta. UNMAPPED tokens on purpose: the `<unk>`
    * vocabulary cut depends on GLOBAL unigram counts, which a growing
    * stream keeps moving (a rare token can cross INTO the vocabulary
    * later), so the mapping is applied at MODEL-READ time over the folded
    * type-count frames ([[knScore]]) — a model-sized recompute, never a
    * corpus re-scan. */
  def knPairCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    consecPairs(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))

  /** Interpolated Kneser–Ney bigram scoring — the smoothed successor of
    * [[bigramLogProb]] that can score documents against an LM estimated on
    * a DIFFERENT corpus (the CCNet setup: rank crawl text by its
    * log-probability under a clean reference LM; cf. Heafield, "KenLM:
    * Faster and Smaller Language Model Queries", WMT 2011). MLE gives
    * unseen pairs probability zero (log undefined), so cross-corpus
    * scoring needs reserved mass. With the exact-binary discount D = 0.75
    * subtracted from every seen pair:
    *
    *   P(b|a)   = (max(c2(a,b) − D, 0) + D · N1+(a·) · Pcont(b)) / c1(a)
    *   Pcont(b) = max(N1+(·b), 1) / B
    *
    * over the MAPPED type counts: tokens with LM unigram count below
    * `minCount` become `<unk>` (in both the model and the scored text), so
    * every scored token is in-vocabulary. c1(a) = Σ_b c2(a, b) is the
    * left-context total; N1+(a·) / N1+(·b) are distinct successor /
    * predecessor counts; B = distinct mapped pairs (the Pcont
    * denominator). Two totality fallbacks, both deterministic and
    * engine-replayable: an unseen CONTEXT (c1 = 0 — a vocabulary token the
    * LM never saw as a left side) scores Pcont(b) alone, and the
    * max(·, 1) floor keeps Pcont positive for a token never seen as a
    * right side (including an `<unk>` absent from the LM corpus).
    *
    * Exactness: D = 0.75 and all counts are exact in binary doubles, so
    * every P replays bit-identically from the same expression shape; the
    * one `ln` per distinct (doc, pair) is quantized to DECIMAL(18,8)
    * before the order-free exact sum (weighted by the pair's in-doc
    * multiplicity — exact integer × decimal), final score floored at 4
    * digits — the [[bigramLogProb]]/BM25 discipline, no tolerance.
    *
    * Plan shape: model frames are TYPE counts (Zipf-bounded, corpus-scan
    * sized once); N1+/c1/B derive from the pair-type frame with two hash
    * aggs and a 1-row broadcast. Scored docs collapse to distinct
    * (doc, a, b) with multiplicities BEFORE any model join (map-side
    * combined), then equi-join the model on (a, b) / (a) / (b) — never a
    * corpus-sized row per token against the model.
    *
    * Output: `(idCol, n_bigrams, avg_logprob)`; docs with < 2 tokens have
    * no bigrams and drop out (the [[bigramLogProb]] convention). */
  def knScore(
      docs: DataFrame,
      rawUni: DataFrame,
      rawPair: DataFrame,
      minCount: Long = 2L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val vocab = Checkpoints.pin(
      rawUni.filter(col("c") >= minCount).select(col("w"), lit(1).as("__in")),
      reliable = false)
    def mapped(df: DataFrame, wCol: String): DataFrame =
      df.join(vocab.withColumnRenamed("w", wCol), Seq(wCol), "left")
        .withColumn(wCol,
          when(col("__in").isNull, lit("<unk>")).otherwise(col(wCol)))
        .drop("__in")
    // mapped pair-type counts: the model core, pinned — feeds c1/N1+/B
    // and the scoring join
    val c2 = Checkpoints.pin(
      mapped(mapped(rawPair, "w1"), "w2")
        .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("__c2")),
      reliable = false)
    val ctx = c2.groupBy(col("w1"))
      .agg(sum(col("__c2")).as("__c1"), count(lit(1)).as("__n1f"))
    val pred = c2.groupBy(col("w2")).agg(count(lit(1)).as("__n1b"))
    val bTot = c2.agg(count(lit(1)).as("__B"))
    val docPairs = mapped(mapped(consecPairs(docs, idCol, textCol), "w1"), "w2")
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("__cnt"))
    val joined = docPairs
      .join(c2, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(pred, Seq("w2"), "left")
      .crossJoin(broadcast(bTot)) // one-row pair-type total
    val pc = greatest(coalesce(col("__n1b"), lit(0L)), lit(1L)).cast("double") /
      col("__B").cast("double")
    val p = when(coalesce(col("__c1"), lit(0L)) > 0,
      (greatest(coalesce(col("__c2"), lit(0L)).cast("double") - lit(0.75), lit(0.0)) +
        lit(0.75) * coalesce(col("__n1f"), lit(0L)).cast("double") * pc) /
        col("__c1").cast("double"))
      .otherwise(pc)
    val lp = log(p).cast("decimal(18,8)")
    joined.groupBy(col(idCol))
      .agg(
        sum(col("__cnt")).as("n_bigrams"),
        NumFns.floorAt(
          sum(lp * col("__cnt").cast("decimal(10,0)")).cast("double") /
            sum(col("__cnt")).cast("double"),
          4).as("avg_logprob"))
  }

  /** [[knScore]] with the model estimated inline from `lmDocs` — the
    * one-call cross-corpus form (train on the clean reference, score the
    * crawl). */
  def knScoreAgainst(
      docs: DataFrame,
      lmDocs: DataFrame,
      minCount: Long = 2L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    knScore(docs, knUnigramCounts(lmDocs, textCol),
      knPairCounts(lmDocs, idCol, textCol), minCount, idCol, textCol)

  /** Consecutive-token triples per document (two window leads — still one
    * doc-keyed window pass). */
  private def consecTriples(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("p"))
    docs.select(col(idCol), posexplode(TextFns.tokens(col(textCol))).as(Seq("p", "w1")))
      .withColumn("w2", lead(col("w1"), 1).over(w))
      .withColumn("w3", lead(col("w1"), 2).over(w))
      .filter(col("w3").isNotNull)
      .select(col(idCol), col("w1"), col("w2"), col("w3"))
  }

  /** Raw consecutive-triple counts `(w1, w2, w3, c)` — the trigram model's
    * single evidence frame (EVERY derived statistic of [[kn3Score]] —
    * bigram continuation counts included — is count algebra over these
    * types, so a maintained trigram LM lands only this and the unigram
    * vocabulary evidence). Unmapped for the [[knPairCounts]] reason. */
  def knTrigramCounts(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    consecTriples(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c"))

  /** Interpolated Kneser–Ney TRIGRAM scoring — [[knScore]] one Markov
    * order up, the standard KenLM configuration. The backoff chain
    * (Chen & Goodman's interpolated KN, D = 0.75 at every level):
    *
    *   P3(w|u,v)  = (max(c3(u,v,w) − D, 0) + D · N1+(u,v,·) · P2c(w|v)) / c3(u,v,·)
    *   P2c(w|v)   = (max(N1+(·,v,w) − D, 0) + D · N1+c(v) · Pc(w)) / N1+(·,v,·)
    *   Pc(w)      = max(N1+(·,·,w), 1) / B
    *
    * where every statistic is count algebra over the MAPPED trigram
    * types: N1+(·,v,w) = distinct left-contexts of (v,w) (= rows of the
    * c3 frame grouped by (v,w)), N1+(·,v,·)/N1+c(v) its per-v sum/row
    * count, N1+(·,·,w)/B the same one level down. Fallbacks mirror
    * [[knScore]]: an unseen (u,v) context scores P2c, an unseen v
    * context scores Pc, and the max(·,1) floor keeps Pc total. Same
    * exactness discipline (exact-binary D, ln → DECIMAL(18,8) before the
    * multiplicity-weighted exact sum, 4-digit floor) and the same
    * scale shape — model frames are TYPE counts, docs collapse to
    * distinct (doc, triple) with multiplicities before any model join.
    * Docs with < 3 tokens have no trigrams and drop out. */
  def kn3Score(
      docs: DataFrame,
      rawUni: DataFrame,
      rawTri: DataFrame,
      minCount: Long = 2L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val vocab = Checkpoints.pin(
      rawUni.filter(col("c") >= minCount).select(col("w"), lit(1).as("__in")),
      reliable = false)
    def mapped(df: DataFrame, wCol: String): DataFrame =
      df.join(vocab.withColumnRenamed("w", wCol), Seq(wCol), "left")
        .withColumn(wCol,
          when(col("__in").isNull, lit("<unk>")).otherwise(col(wCol)))
        .drop("__in")
    val c3 = Checkpoints.pin(
      mapped(mapped(mapped(rawTri, "w1"), "w2"), "w3")
        .groupBy(col("w1"), col("w2"), col("w3")).agg(sum(col("c")).as("__c3")),
      reliable = false)
    val ctx3 = c3.groupBy(col("w1"), col("w2"))
      .agg(sum(col("__c3")).as("__ctx3"), count(lit(1)).as("__n1f3"))
    val t = Checkpoints.pin(
      c3.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("__t")),
      reliable = false)
    val ctx2c = t.groupBy(col("w2"))
      .agg(sum(col("__t")).as("__ctx2c"), count(lit(1)).as("__n1f2c"))
    val pred = t.groupBy(col("w3")).agg(count(lit(1)).as("__n1b"))
    val bTot = t.agg(count(lit(1)).as("__B"))
    val docTris = mapped(mapped(mapped(consecTriples(docs, idCol, textCol),
        "w1"), "w2"), "w3")
      .groupBy(col(idCol), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("__cnt"))
    val joined = docTris
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(ctx3, Seq("w1", "w2"), "left")
      .join(t, Seq("w2", "w3"), "left")
      .join(ctx2c, Seq("w2"), "left")
      .join(pred, Seq("w3"), "left")
      .crossJoin(broadcast(bTot)) // one-row triple-type total
    val pc = greatest(coalesce(col("__n1b"), lit(0L)), lit(1L)).cast("double") /
      col("__B").cast("double")
    val p2 = when(coalesce(col("__ctx2c"), lit(0L)) > 0,
      (greatest(coalesce(col("__t"), lit(0L)).cast("double") - lit(0.75), lit(0.0)) +
        lit(0.75) * coalesce(col("__n1f2c"), lit(0L)).cast("double") * pc) /
        col("__ctx2c").cast("double"))
      .otherwise(pc)
    val withP2 = joined.withColumn("__p2", p2)
    val p = when(coalesce(col("__ctx3"), lit(0L)) > 0,
      (greatest(coalesce(col("__c3"), lit(0L)).cast("double") - lit(0.75), lit(0.0)) +
        lit(0.75) * coalesce(col("__n1f3"), lit(0L)).cast("double") * col("__p2")) /
        col("__ctx3").cast("double"))
      .otherwise(col("__p2"))
    val lp = log(p).cast("decimal(18,8)")
    withP2.groupBy(col(idCol))
      .agg(
        sum(col("__cnt")).as("n_trigrams"),
        NumFns.floorAt(
          sum(lp * col("__cnt").cast("decimal(10,0)")).cast("double") /
            sum(col("__cnt")).cast("double"),
          4).as("avg_logprob"))
  }

  /** [[kn3Score]] with the model estimated inline from `lmDocs`. */
  def kn3ScoreAgainst(
      docs: DataFrame,
      lmDocs: DataFrame,
      minCount: Long = 2L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    kn3Score(docs, knUnigramCounts(lmDocs, textCol),
      knTrigramCounts(lmDocs, idCol, textCol), minCount, idCol, textCol)

  /** Tokenizer-fit / out-of-vocabulary report: per-doc fraction of tokens
    * outside the corpus' top-`vocabSize` vocabulary (count desc, token asc
    * tie-break — fully deterministic cut). The vocabulary-coverage pass a
    * tokenizer-training pipeline runs before freezing a vocab: a rising
    * OOV fraction on new data is the retrain signal.
    *
    * Plan: one hash agg for the corpus frequency table, a bounded
    * (vocabSize-row) sort-limit, then a BROADCAST left join of the token
    * stream against the vocab — per-doc agg; the token stream is never
    * shuffled on the token key. */
  def oovRate(docs: DataFrame, vocabSize: Int = 100): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        NumFns.floorAt(
          sum(when(col("in_vocab").isNull, 1.0).otherwise(0.0))
            / count(lit(1)).cast("double"), 6).as("oov_frac"))
  }

  /** Zipf-fit diagnostic: per language, the OLS slope/intercept of
    * ln(freq) vs ln(rank) over the top-`topN` token types — the
    * corpus-health check a data pipeline runs per ingest (natural text
    * sits near slope −1; strongly flatter/steeper slopes flag templated
    * or degenerate sources). Deterministic closed form: ranks come from
    * the exact (count desc, token asc) cut, both logs quantize to
    * DECIMAL(18,8), the four OLS sums are exact decimal sums (products
    * of two 8-dp decimals stay exact at (37,16) — no silent scale
    * reduction), and the slope/intercept are fixed-shape double
    * expressions over those exact sums, 6-digit floored.
    *
    * Plan: one hash agg to type counts, a TWO-PHASE per-language rank
    * over the TYPE frame (Zipf-bounded, never token-occurrence-sized —
    * but a mega-language's vocabulary still ranks in salt-slice parallel
    * tasks first: each slice's top-topN is a superset of the global
    * top-topN's members in that slice, the scoreQuantileFilter proof, so
    * the final window sees at most topN·8 rows per language), one final
    * per-language agg. Output: `(groupCol, n_top, slope, intercept)`. */
  def zipfFit(docs: DataFrame, topN: Int = 100,
      groupCol: String = "lang", textCol: String = "text"): DataFrame = {
    require(topN >= 2, "topN must be >= 2")
    val counts = docs
      .select(col(groupCol), explode(TextFns.tokens(col(textCol))).as("tok"))
      .groupBy(col(groupCol), col("tok")).agg(count(lit(1)).as("__c"))
    val w1 = Window.partitionBy(col(groupCol), col("__salt"))
      .orderBy(col("__c").desc, col("tok"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__c").desc, col("tok"))
    val q = counts
      .withColumn("__salt", pmod(xxhash64(col("tok")), lit(8)))
      .withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= topN)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= topN)
      .select(col(groupCol),
        log(col("__r").cast("double")).cast("decimal(18,8)").as("__x"),
        log(col("__c").cast("double")).cast("decimal(18,8)").as("__y"))
    val nD = col("__n").cast("double")
    val sxD = col("__sx").cast("double"); val syD = col("__sy").cast("double")
    q.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .withColumn("__den", nD * col("__sxx").cast("double") - sxD * sxD)
      // a group with a single token type has one (x,y) point at x=0, so
      // the OLS denominator is exactly 0 (NULL slope in Spark, inf in
      // engines that divide through) — define the degenerate fit as a
      // horizontal line: slope 0, intercept = mean(y)
      .withColumn("__slope",
        when(col("__den") === lit(0.0), lit(0.0)).otherwise(
          (nD * col("__sxy").cast("double") - sxD * syD) / col("__den")))
      .select(col(groupCol), col("__n").as("n_top"),
        NumFns.floorAt(col("__slope"), 6).as("slope"),
        NumFns.floorAt((syD - col("__slope") * sxD) / nD, 6).as("intercept"))
  }

  /** Sketch-based vocabulary cardinality: HLL++ distinct-token estimate
    * per language. The 100 TB point of the sketch: the partial aggregate
    * is a FIXED-SIZE register set (map-side combined, bytes per
    * partition), where exact distinct shuffles every distinct token.
    * Deterministic (hash-based, no RNG), so the gate query's error bound
    * is a stable invariant, not a flaky sample. */
  def tokenCardinality(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    docs.select(col("lang"), explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(approx_count_distinct(col("tok"), rsd).as("n_approx"))

  /** Cross-document duplicated-passage detection (the shingle-level
    * companion of doc-level dedup — Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", arXiv 2107.06499, detect phase):
    * for every document, the fraction of its DISTINCT k-token shingles
    * that also occur in at least one OTHER document. High dup_frac with no
    * whole-doc duplicate = boilerplate / template text that doc-level
    * dedup never sees.
    *
    * Plan: shingle rows (codegen window lead, CurationOps.shingleRows) →
    * per-doc distinct → shingle-keyed doc-frequency agg → shingle-keyed
    * join back → per-doc agg. The same two-shuffle skeleton as
    * tokenCommonness; a boilerplate shingle shared by millions of docs is
    * a hot JOIN key (AQE-splittable), never a window partition.
    * `hashed = true` is the 100 TB path (8-byte shingle hashes through
    * both shuffles); `hashed = false` keeps exact strings so the result is
    * oracle-checkable — identical counts modulo xxhash64 collisions. */
  def duplicatedPassages(
      docs: DataFrame,
      k: Int = 3,
      hashed: Boolean = true,
      reliable: Boolean = false): DataFrame = {
    // the distinct shingle set feeds both the doc-frequency agg and the
    // join back: compute once (lineage cut; reliable=true on clusters)
    val sh = Checkpoints.pin(
      CurationOps.shingleRows(docs, k, hashed = hashed).distinct(), reliable)
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_shingles"))
      .withColumn("dup_frac",
        NumFns.floorAt(col("n_dup_shingles").cast("double") / col("n_shingles"), 6))
  }

  /** Heavy-hitter tokens via the approx_top_k sketch (DataSketches
    * frequent-items under Spark 4's ApproxTopK aggregate): fixed-size
    * map-side-combined state — the sketch ships `maxTracked` slots per
    * partition where the exact path shuffles every distinct token
    * (g_sketch_distinct's HLL story, for top-k instead of cardinality).
    * While the live vocabulary fits `maxTracked` the sketch is EXACT (no
    * evictions), which is what the oracle gate certifies; beyond it the
    * same query degrades to guaranteed-error heavy hitters. The final
    * top-k cut is done deterministically here (count desc, token asc)
    * rather than by the sketch's arbitrary tie order — and the FULL
    * tracked slice (`maxTracked` items, not k + slack) is requested from
    * the sketch, so tokens tied at the k-th count are all visible to the
    * deterministic cut instead of being pre-filtered by the sketch's
    * arbitrary tie order. */
  def tokenHeavyHitters(docs: DataFrame, k: Int = 10, maxTracked: Int = 1024): DataFrame =
    docs.select(explode(TextFns.tokens(col("text"))).as("tok"))
      .agg(expr(s"approx_top_k(tok, $maxTracked, $maxTracked)")
        .as("sketch"))
      .select(explode(col("sketch")).as("e"))
      .select(col("e.item").as("tok"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(k)

  /** Quantile SKETCH with a self-verifying rank gate — the third member
    * of the sketch family (HLL cardinality, frequent-items top-k, and
    * now quantiles): per-language length quantiles from
    * `approx_percentile` (Spark's GK summary — fixed-size map-side
    * partial state, mergeable, deterministic), where the exact
    * percentile needs the full value multiset per group.
    *
    * The gate is rank-based, not value-based, so it is immune to the
    * engines' differing percentile-definition conventions: each sketch
    * output q at fraction p over n values occupies the exact rank
    * INTERVAL [count(< q) + 1, count(<= q)] (an interval because of
    * ties), and the GK contract promises it intersects
    * p*n ± (n/accuracy + 1). The oracle pins the booleans true and the
    * group sizes; a sketch regression (or accuracy misconfiguration)
    * flips a boolean. Exact-rank verification joins the corpus once —
    * a verification-scale companion, like every other gate's exact
    * side; production reads just the sketch aggregate. */
  def quantileSketchGate(docs: DataFrame, accuracy: Int = 10000): DataFrame = {
    val ps = Seq(0.25, 0.5, 0.75)
    val sk = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      expr(s"approx_percentile(n_chars, array(${ps.mkString(", ")}), $accuracy)").as("qs"))
    val rankCols = ps.indices.flatMap(i => Seq(
      sum(when(col("n_chars") < col("qs")(i), 1L).otherwise(0L)).as(s"lt$i"),
      sum(when(col("n_chars") <= col("qs")(i), 1L).otherwise(0L)).as(s"le$i")))
    val ranks = docs.select(col("lang"), col("n_chars"))
      .join(sk.select(col("lang"), col("qs")), Seq("lang"))
      .groupBy(col("lang"))
      .agg(rankCols.head, rankCols.tail: _*)
    val err = col("n_docs").cast("double") / accuracy + 1.0
    val ok = ps.indices.map { i =>
      val target = col("n_docs").cast("double") * ps(i)
      // [lt+1, le] must intersect [target - err, target + err]
      (col(s"le$i").cast("double") >= target - err) &&
        (col(s"lt$i").cast("double") + 1.0 <= target + err)
    }.reduce(_ && _)
    sk.join(ranks, Seq("lang"))
      .select(col("lang"), col("n_docs"), ok.as("rank_ok"))
  }

  /** Content fingerprints: cryptographic (md5 of normalized text) +
    * rolling hashes — the engine-local xxhash token fold for shard-local
    * joins and the char-level polynomial variant whose arithmetic is
    * reproducible in ANSI SQL (the oracle-gated one). */
  def fingerprints(docs: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    docs.select(
      col("doc_id"),
      md5(to_binary(lower(col("text")), lit("utf-8"))).as("md5_norm"),
      TextFns.rollingFingerprint(col("text")).as("rolling_fp"),
      graft.plans.GraftFunctions.polyFp(col("text")).as("poly_fp"))
  }

  /** Positioned k-token shingles: one row per (doc, token offset) with the
    * shingle starting there. Map-only — the shingle array is built from the
    * token array with codegen HOFs (`transform` over `sequence`), no window
    * and no shuffle; `posexplode` keeps the offset. Docs shorter than k
    * tokens produce no rows (no k-gram can start in them — span semantics,
    * unlike shingleRows' whole-text convention for membership semantics). */
  private def positionedShingles(docs: DataFrame, k: Int, hashed: Boolean): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val sh = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= k)
      .select(col("doc_id"), posexplode(
        expr(s"transform(sequence(0, size(t) - $k), i -> concat_ws(' ', slice(t, i + 1, $k)))"))
        .as(Seq("idx", "shingle")))
    sh.select(col("doc_id"), col("idx").cast("long").as("idx"),
      (if (hashed) xxhash64(col("shingle")) else col("shingle")).as("shingle"))
  }

  /** Exact duplicated-SPAN extraction — the span-level "detect" phase of
    * exact substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", arXiv 2107.06499: remove substrings repeated
    * verbatim anywhere in the corpus). Where duplicatedPassages scores a
    * per-doc dup FRACTION, this returns the maximal token RANGES: every run
    * of consecutive k-shingles whose shingle occurs >= 2 times corpus-wide
    * (within-doc repeats included — substring semantics), merged into
    * [start_tok, end_tok] islands and cut at minSpanTokens.
    *
    * Plan at 100 TB: positioned shingles are map-only (no window); the
    * corpus-wide occurrence count is a partial-aggregated groupBy (map-side
    * combined — a boilerplate shingle repeated a billion times arrives at
    * the reducer as per-partition counts, not a billion rows); the
    * join back is shingle-keyed (hot keys are AQE-splittable JOIN skew,
    * never window skew); island-merge is one per-doc window over only the
    * DUPLICATED positions (post-filter — a tiny fraction of the corpus).
    * Three exchanges total. The shingle recompute between the agg and the
    * join is a map-only rescan, deliberately cheaper than persisting.
    * `hashed = true` ships 8-byte shingle hashes through both shuffles (the
    * 100 TB path); `hashed = false` keeps strings for the oracle gate. */
  def duplicatedSpans(
      docs: DataFrame,
      k: Int = 3,
      minSpanTokens: Int = 8,
      hashed: Boolean = true): DataFrame = {
    require(minSpanTokens >= k, "a span is at least one whole shingle")
    val sh = positionedShingles(docs, k, hashed)
    val dupSet = sh.groupBy(col("shingle")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("shingle"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
    sh.join(dupSet, Seq("shingle"))
      .withColumn("grp", col("idx") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("idx")).as("start_tok"), (max(col("idx")) + lit(k - 1).cast("long")).as("end_tok"))
      .filter(col("end_tok") - col("start_tok") + 1 >= minSpanTokens)
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("span_tokens"))
  }

  /** The "remove" phase of exact substring dedup: rebuild each document
    * with its duplicated spans (from duplicatedSpans) clipped out. Spans
    * are collected per doc (bounded: a doc's span list is at most
    * n_tokens / minSpanTokens entries), left-joined back, and the clip is
    * a single codegen HOF pass — `filter` with the index lambda dropping
    * tokens covered by any span, rejoined with single spaces. Docs with no
    * spans keep their text verbatim (split/join round-trip is exact:
    * concat_ws keeps empty tokens); fully-covered docs come back as ''.
    * One extra shuffle (the per-doc span collect) on top of
    * duplicatedSpans' three. */
  def clipDuplicatedSpans(
      docs: DataFrame,
      k: Int = 3,
      minSpanTokens: Int = 8,
      hashed: Boolean = true): DataFrame = {
    val spans = duplicatedSpans(docs, k, minSpanTokens, hashed)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("spans"))
    docs.select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, col("text"))
          .otherwise(expr(
            "concat_ws(' ', filter(t, (x, i) -> NOT exists(spans, sp -> i >= sp.start_tok AND i <= sp.end_tok)))"))
          .as("clean_text"))
  }

  /** Per-source-tagged partial shingle counts — the row shape every
    * shingle-index writer lands: one (shingle, cnt) row per distinct
    * shingle of this slice, tagged with the slice id (`src`) and the
    * directory partition `pb = pmod(hash, nPb)`. The index stores
    * map-side-combined PARTIALS and probes do the final merge — the
    * mergeable-aggregate contract (a summing compaction is deliberately
    * NOT offered: a crash-rerun of a summing fold double-counts, while
    * source-tagged rows stay dedup-foldable on (shingle, src)). */
  private[graft] def shinglePartialCounts(
      docs: DataFrame, k: Int, nPb: Int, hashed: Boolean, src: Long): DataFrame =
    positionedShingles(docs, k, hashed)
      .groupBy(col("shingle")).agg(count(lit(1)).as("cnt"))
      .select(col("shingle"), col("cnt"), lit(src).as("src"),
        pmod(if (hashed) col("shingle") else xxhash64(col("shingle")), lit(nPb.toLong))
          .cast("int").as("pb"))

  /** Persist the corpus' shingle-frequency index for incremental span
    * dedup: the occurrence count of every k-shingle, hive-partitioned by
    * `pb` under the versioned `__batch=-1` base (StreamingOps.
    * shingleIndexStream appends per-batch deltas above it). The index is
    * counts, not positions — orders of magnitude smaller than the corpus;
    * signing a 100 TB corpus is one partial-aggregated groupBy. A
    * `_meta.json` sidecar records (k, nPb, hashed) and every probe and
    * stream batch asserts against it — a parameter-drifted probe would
    * silently miss spans otherwise (the writeMinHashIndex contract). */
  def writeShingleIndex(
      corpus: DataFrame,
      path: String,
      k: Int = 3,
      nPb: Int = 16,
      hashed: Boolean = true): Unit = {
    // repartition on the partition column first: one file per pb dir
    shinglePartialCounts(corpus, k, nPb, hashed, src = -1L)
      .repartition(col("pb"))
      .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists)
      .partitionBy("pb").parquet(graft.sources.Levels.base(path))
    writeSpanMeta(corpus.sparkSession, path, k, nPb, hashed)
  }

  /** Merged corpus counts from a shingle index root: reads every batch
    * level, dedups the fold-overlap window on (shingle, src) — identical
    * rows, so max(cnt) is exact — then final-merges the source-tagged
    * partials. Both aggregations are map-side combined. */
  private[graft] def readShingleCounts(
      spark: org.apache.spark.sql.SparkSession, path: String, hashed: Boolean): DataFrame = {
    val shingleType = if (hashed) "LONG" else "STRING"
    spark.read
      .schema(s"shingle $shingleType, cnt LONG, src LONG, pb INT, __batch LONG")
      .parquet(path)
      .groupBy(col("shingle"), col("src")).agg(max(col("cnt")).as("cnt"))
      .groupBy(col("shingle")).agg(sum(col("cnt")).as("corpus_cnt"))
      // a count of zero IS absence: positive batch levels never sum to 0,
      // so this only fires against ForgetOps' negative-count deltas — a
      // fully-forgotten shingle must read back exactly like a rebuild
      // that never saw it
      .filter(col("corpus_cnt") =!= 0L)
  }

  /** Incremental exact-substring span detection: [[duplicatedSpans]] with
    * the corpus side served from a persisted [[writeShingleIndex]] /
    * shingleIndexStream index. A shingle is duplicated when its corpus
    * count plus its increment count reaches 2 — exactly
    * `duplicatedSpans(corpus ∪ increment)` restricted to increment docs
    * (the spec-pinned identity). The increment is shingled and counted
    * once; the join ships counts, never corpus text; hot boilerplate
    * shingles are AQE-splittable JOIN skew. */
  def duplicatedSpansAgainst(
      increment: DataFrame,
      indexPath: String,
      k: Int = 3,
      minSpanTokens: Int = 8,
      hashed: Boolean = true): DataFrame = {
    require(minSpanTokens >= k, "a span is at least one whole shingle")
    val spark = increment.sparkSession
    assertSpanMeta(spark, indexPath, k, nPb = None, hashed = Some(hashed))
    val sh = positionedShingles(increment, k, hashed)
    val dupSet = sh.groupBy(col("shingle")).agg(count(lit(1)).as("inc_cnt"))
      .join(readShingleCounts(spark, indexPath, hashed), Seq("shingle"), "left")
      .filter(col("inc_cnt") + coalesce(col("corpus_cnt"), lit(0L)) >= 2)
      .select(col("shingle"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
    sh.join(dupSet, Seq("shingle"))
      .withColumn("grp", col("idx") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("idx")).as("start_tok"), (max(col("idx")) + lit(k - 1).cast("long")).as("end_tok"))
      .filter(col("end_tok") - col("start_tok") + 1 >= minSpanTokens)
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("span_tokens"))
  }

  /** Parameter sidecar for the shingle index (the LSH `_meta.json`
    * contract: a drifted probe silently misses spans, so fail loudly). */
  private[graft] def writeSpanMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, k: Int, nPb: Int, hashed: Boolean): Unit =
    ParamMeta.write(spark, path, Seq("k" -> k.toLong, "nPb" -> nPb.toLong,
      "hashed" -> (if (hashed) 1L else 0L)))

  /** One integer field of the index sidecar (None: no sidecar or no such
    * field) — lets maintenance operators derive the index's own parameters
    * instead of taking them as arguments (compactShingleIndex needs the
    * shingle storage type). */
  private[graft] def readSpanMetaField(spark: org.apache.spark.sql.SparkSession,
      path: String, name: String): Option[Int] =
    ParamMeta.readText(spark, path)
      .flatMap(text => ParamMeta.field(text, name)).map(_.toInt)

  /** Assert caller parameters against the index sidecar (no-op when
    * absent). nPb is probe-irrelevant (pb pruning is a read optimization,
    * not a semantic key), so probes pass None; writers pass Some. */
  private[graft] def assertSpanMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, k: Int, nPb: Option[Int], hashed: Option[Boolean]): Unit = {
    for (text <- ParamMeta.readText(spark, path)) {
      val want = Seq("k" -> Some(k), "nPb" -> nPb,
        "hashed" -> hashed.map(h => if (h) 1 else 0))
      val mismatches = want.flatMap { case (name, v) =>
        for (expect <- v; rec <- ParamMeta.field(text, name) if rec != expect)
          yield s"$name: index=$rec probe=$expect"
      }
      require(mismatches.isEmpty,
        s"shingle-index parameters disagree with the index at $path " +
          s"(${mismatches.mkString(", ")}) — probe with the index's parameters " +
          "or rebuild it with writeShingleIndex")
    }
  }

  // ---- distributed BPE (byte-pair-encoding vocabulary training) --------
  //
  // The tokenizer-training step of a data pipeline, Spark-first. The
  // whole loop runs over the DISTINCT-WORD table, never the corpus: at
  // 100 TB the corpus has billions of rows but (Zipf) only millions of
  // distinct whitespace words, so every BPE iteration is one map-only
  // merge pass + one map-side-combined pair-count aggregate over a
  // table that fits comfortably in one executor's cache — corpus size
  // buys word FREQUENCIES (one groupBy, once), not per-iteration cost.
  // Encoding inverts the same trick: encode each distinct word once,
  // then the corpus pays a single broadcastable join.

  /** Distinct whitespace words with occurrence frequencies and their
    * initial symbol decomposition (one character per symbol — the classic
    * BPE start state; no end-of-word marker, documented choice). The ONE
    * corpus-sized aggregation of the whole BPE pipeline. */
  def bpeWords(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("syms", split(col("word"), ""))

  /** Adjacent symbol-pair frequencies over a (freq, syms) word table:
    * zip each word's symbol array against its own tail, explode, sum the
    * word frequencies. Map-side combine collapses each task to its
    * distinct-pair partials, so the exchange ships vocabulary-sized rows
    * (pairs over a ~100-symbol alphabet at iteration 0; merged-symbol
    * pairs later — always alphabet², never corpus). */
  def bpePairCounts(words: DataFrame): DataFrame =
    words
      .select(col("freq"),
        explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
      .groupBy(col("p").getField("0").as("s1"), col("p").getField("1").as("s2"))
      .agg(sum(col("freq")).as("cnt"))

  /** One merge rule (a, b) -> "ab" applied to every word's symbol array —
    * the standard greedy left-to-right pass, as a single codegen'd
    * left-fold (`aggregate`): map-only, no shuffle, no UDF. A run like
    * [a,a,a] under (a,a) folds to [aa, a] exactly as reference BPE does
    * (the freshly merged symbol never re-matches as the pair's left side
    * within the same pass). */
  def bpeApplyMerge(words: DataFrame, a: String, b: String): DataFrame = {
    val merged = a + b
    words.withColumn("syms",
      aggregate(
        col("syms"),
        array().cast("array<string>"),
        (acc, x) =>
          when(
            size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
            .otherwise(concat(acc, array(x)))))
  }

  /** Learn `nMerges` BPE merge rules: iterate (pair counts -> global
    * argmax -> merge pass) over the distinct-word table. The argmax is a
    * 1-row collect (cnt DESC, then lexicographic (s1, s2) — fully
    * deterministic, engine-independent tie-break); the word table is
    * lineage-pinned each round (iterative-operator rule: by iteration k
    * an unpinned plan re-analyzes k nested merge passes). Both loop
    * bodies are oracle-gated one level down: the count aggregate is
    * g_bpe_pairs, the merge-then-recount composition is g_bpe_step. */
  def learnBpe(
      docs: DataFrame,
      nMerges: Int,
      textCol: String = "text",
      reliable: Boolean = false): Seq[(String, String)] = {
    var words = Checkpoints.pin(bpeWords(docs, textCol), reliable)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val top = bpePairCounts(words)
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getAs[String]("s1"), top(0).getAs[String]("s2"))
        merges += ((a, b))
        words = Checkpoints.pin(bpeApplyMerge(words, a, b), reliable)
      }
      i += 1
    }
    merges.toSeq
  }

  // ---- unigram-LM (SentencePiece-style) tokenizer training -------------
  //
  // The OTHER mainstream subword trainer (Kudo 2018, arXiv:1804.10959),
  // next to BPE: instead of greedily growing merges, fit a unigram piece
  // model by EM — seed a substring vocabulary, segment every word under
  // the current piece probabilities (the E-step; hard-EM here, so the
  // Viterbi best path), re-estimate piece counts from the segmentations
  // (the M-step's sufficient statistic). The same 100 TB shape as BPE:
  // everything runs on the DISTINCT-WORD table; the corpus is touched
  // once (the word groupBy).

  /** Seed piece candidates: every substring of length 1..`maxPieceLen`
    * of every distinct word, occurrence-counted (word-frequency-weighted,
    * every start position — the SentencePiece seed state). Single
    * characters are always present (they are length-1 substrings), which
    * is what guarantees the E-step can segment every word. Map-only over
    * the distinct-word table; the aggregate is vocabulary-sized. */
  def unigramSeed(docs: DataFrame, maxPieceLen: Int = 4,
      textCol: String = "text"): DataFrame =
    unigramSeedFromWords(bpeWords(docs, textCol), maxPieceLen)

  /** [[unigramSeed]] over an ALREADY-AGGREGATED `(word, freq)` frame —
    * the face a streamed count maintainer serves (the corpus groupBy
    * happened incrementally; only the vocabulary-sized substring
    * explode runs here). */
  def unigramSeedFromWords(words: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    words
      .select(col("freq"), explode(expr(
        s"""filter(flatten(transform(sequence(1, length(word)), s ->
           |  transform(sequence(1, $maxPieceLen), l ->
           |    CASE WHEN s + l - 1 <= length(word)
           |         THEN substring(word, s, l) END))),
           |  p -> p IS NOT NULL)""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
  }

  /** One hard-EM step of the unigram trainer: Viterbi-segment every
    * distinct word under the piece model `vocab` (`(piece, count)` — a
    * BOUNDED driver-side vocabulary, the learnBpe argmax-collect
    * discipline) and return the re-estimated piece counts, word-frequency
    * weighted. Piece scores are integer nll units
    * `floor((ln Σcnt − ln cnt) · 1e8)` — the exp/ln last-ulp class the
    * descent family already accepts — so the DP and all ties are exact
    * integer comparisons, replayable by the oracle's brute-force
    * segmentation enumeration ([[graft.plans.UnigramViterbi]] has the
    * tie-break contract). One kernel call per distinct word, one
    * vocabulary-sized aggregate; no shuffle touches the corpus. */
  def unigramEmStep(docs: DataFrame, vocab: Seq[(String, Long)],
      textCol: String = "text"): DataFrame =
    unigramEmStepFromWords(bpeWords(docs, textCol), vocab)

  /** The integer nll units a `(piece, count)` vocabulary enters the
    * Viterbi kernel with — `floor((ln Σcnt − ln cnt) · 1e8)`, pieces
    * sorted so the (pieces, units) zip is deterministic. Shared by the
    * EM step and the corpus encoder (one unit derivation, one oracle
    * expression). */
  private def unigramUnits(vocab: Seq[(String, Long)]): (Seq[String], Seq[Long]) = {
    require(vocab.nonEmpty, "empty vocabulary")
    require(vocab.forall(_._2 >= 1), "piece counts must be >= 1")
    val total = vocab.map(_._2).sum
    val sorted = vocab.sortBy(_._1)
    (sorted.map(_._1), sorted.map { case (_, c) =>
      math.floor((math.log(total.toDouble) - math.log(c.toDouble)) * 1e8).toLong
    })
  }

  /** [[unigramEmStep]] over an ALREADY-AGGREGATED `(word, freq)` frame —
    * the streamed-maintainer face ([[unigramSeedFromWords]]' reasoning). */
  def unigramEmStepFromWords(words: DataFrame,
      vocab: Seq[(String, Long)]): DataFrame = {
    graft.plans.GraftFunctions.register(words.sparkSession)
    val (pieces, units) = unigramUnits(vocab)
    words
      .select(col("freq"),
        explode(graft.plans.GraftFunctions.unigramViterbi(
          col("word"), pieces, units)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
  }

  /** Tokenize the corpus with a trained unigram piece model — the
    * [[bpeEncode]] contract for the OTHER trainer: every DISTINCT word
    * is Viterbi-segmented once under the vocabulary's integer nll units
    * (the exact E-step kernel, so encode-time segmentations are the
    * segmentations the trainer optimized), then the corpus joins the
    * word→token-count map ONCE — broadcastable whenever the distinct-word
    * table is, and the corpus is touched exactly twice total (the word
    * groupBy + the join) at ANY vocabulary size. Words the vocabulary
    * cannot cover segment to the empty array (kernel contract) and
    * contribute 0 tokens while still counting as words — visible, not
    * silently dropped. Output: `(idCol, n_tokens, n_words)` per doc. */
  def unigramEncode(docs: DataFrame, vocab: Seq[(String, Long)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    unigramEncodeFromWords(docs, bpeWords(docs, textCol), vocab, idCol, textCol)

  /** [[unigramEncode]] over an ALREADY-DERIVED distinct-word frame — the
    * face the composed trainer pipeline uses so seed, EM, prune, and
    * encode all share ONE corpus groupBy (and a streamed count
    * maintainer can serve the words, the `FromWords` reasoning). The
    * join is LEFT so a word the frame doesn't know yet (a lagging
    * maintainer, a caller-supplied subset) still counts as a word with 0
    * tokens — the same visible-not-dropped contract as a vocabulary
    * gap; an inner join would silently erase the occurrence from BOTH
    * counts. */
  def unigramEncodeFromWords(docs: DataFrame, words: DataFrame,
      vocab: Seq[(String, Long)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val (pieces, units) = unigramUnits(vocab)
    val encoded = words
      .select(col("word"),
        size(graft.plans.GraftFunctions.unigramViterbi(
          col("word"), pieces, units)).cast("long").as("__n"))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(encoded, Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(coalesce(col("__n"), lit(0L))).as("n_tokens"),
        count(lit(1)).as("n_words"))
  }

  /** The bounded vocabulary cap for the gated EM step: the top `cap`
    * seed pieces by (cnt desc, piece asc) plus every single character
    * (so segmentation stays total), collected to the driver — the
    * [[learnBpe]] bounded-driver-state class. */
  def unigramCapVocab(seed: DataFrame, cap: Int = 64): Seq[(String, Long)] = {
    val s = Checkpoints.pin(seed, reliable = false)
    s.orderBy(col("cnt").desc, col("piece")).limit(cap)
      .unionByName(s.filter(length(col("piece")) === 1))
      .distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** The prune half of the SentencePiece iteration: rank multi-character
    * pieces by how much the corpus likelihood DROPS if the piece is
    * removed and its occurrences fall back to single characters —
    * `loss = cnt · (Σ_ch nll(ch) − nll(piece))` — and keep the top
    * `keep` (ties to the lexicographically smaller piece). Single
    * characters are never pruned (they are the segmentation floor); a
    * character with no standalone count (it only ever appears inside
    * kept pieces) falls back at the cnt = 1 ceiling `ln(total)`.
    * This is the char-fallback simplification of Kudo 2018's
    * alternative-segmentation loss: exact to it whenever the best
    * alternative IS the character split, pessimistic otherwise.
    *
    * All integer: the same `floor((ln Σcnt − ln cnt)·1e8)` units as the
    * E-step; the loss product is exact in DECIMAL(38,0) and emitted as
    * a long (sub-2^63 at any realistic unit·count scale). One pin, one
    * broadcast total, one char join, one vocabulary-sized window.
    * Output: `(piece, cnt, loss, rank)` for the kept pieces. */
  def unigramPrune(counts: DataFrame, keep: Int): DataFrame = {
    require(keep >= 1, "keep must be >= 1")
    val c = Checkpoints.pin(counts, reliable = false)
    val tot = c.agg(sum(col("cnt")).as("__t"))
    val withU = c.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        floor((log(col("__t").cast("double")) - log(col("cnt").cast("double")))
          * lit(1e8)).cast("long").as("__u"),
        floor(log(col("__t").cast("double")) * lit(1e8)).cast("long").as("__uc"))
    val chars = withU.filter(length(col("piece")) === 1)
      .select(col("piece").as("__ch"), col("__u").as("__cu"))
    val ranked = withU.filter(length(col("piece")) >= 2)
      .select(col("piece"), col("cnt"), col("__u"), col("__uc"),
        explode(split(col("piece"), "")).as("__ch"))
      .filter(length(col("__ch")) === 1) // guard a regex-split empty tail
      .join(broadcast(chars), Seq("__ch"), "left")
      .groupBy(col("piece"), col("cnt"), col("__u"))
      .agg(sum(coalesce(col("__cu"), col("__uc"))).as("__alt"))
      .select(col("piece"), col("cnt"),
        (col("cnt").cast("decimal(38,0)") * (col("__alt") - col("__u")))
          .cast("long").as("loss"))
      // single window over the vocabulary-sized frame (the zipfFit class)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("loss").desc, col("piece"))).cast("long"))
    ranked.filter(col("rank") <= keep)
  }

  /** The next round's vocabulary after a prune: the kept multi-character
    * pieces plus the EM counts' single characters (the segmentation
    * floor), at their EM-estimated counts — bounded by cap + alphabet, so
    * the collect is the [[learnBpe]] driver-state class. */
  private def unigramNextVocab(em: DataFrame, pruned: DataFrame): Seq[(String, Long)] =
    pruned.select(col("piece"), col("cnt"))
      .unionByName(em.filter(length(col("piece")) === 1))
      .distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** SentencePiece's OUTER loop (Kudo 2018 §3.2), explicit-schedule face:
    * seed → cap, then per round one hard-EM step ([[unigramEmStepFromWords]])
    * followed by a prune to `keeps(i)` multi-character pieces
    * ([[unigramPrune]]), the next round segmenting under the PRUNED
    * vocabulary at its re-estimated counts. Returns the FINAL round's
    * prune frame `(piece, cnt, loss, rank)` — the trained vocabulary with
    * its loss evidence. Every inter-round vocabulary is a bounded
    * driver-side collect (cap + alphabet — the [[learnBpe]] discipline);
    * the corpus is never touched (the caller's one word groupBy is the
    * only corpus pass at ANY round count). */
  def unigramTrainFromWords(words: DataFrame, keeps: Seq[Int],
      cap: Int = 64, maxPieceLen: Int = 4): DataFrame = {
    require(keeps.nonEmpty, "at least one EM+prune round")
    val w = Checkpoints.pin(words, reliable = false)
    var vocab = unigramCapVocab(unigramSeedFromWords(w, maxPieceLen), cap)
    var result: DataFrame = null
    keeps.zipWithIndex.foreach { case (keep, i) =>
      val em = Checkpoints.pin(unigramEmStepFromWords(w, vocab), reliable = false)
      val pruned = unigramPrune(em, keep)
      if (i == keeps.size - 1) result = pruned
      else vocab = unigramNextVocab(em, pruned)
    }
    result
  }

  /** [[unigramTrainFromWords]] to CONVERGENCE: shrink the multi-character
    * vocabulary by `shrink` each round (SentencePiece's default
    * discipline) until at most `targetMultiChar` pieces remain or
    * `maxRounds` is exhausted, then return the final vocabulary
    * `(piece, cnt)` — kept multi-char pieces plus single characters —
    * ready for [[unigramEncodeFromWords]]. Round count is bounded by
    * construction (`log_shrink(cap/target)` ≤ maxRounds), and every
    * round's driver state stays cap + alphabet sized. */
  def unigramTrain(words: DataFrame, targetMultiChar: Int,
      shrink: Double = 0.75, cap: Int = 64, maxPieceLen: Int = 4,
      maxRounds: Int = 10): Seq[(String, Long)] = {
    require(targetMultiChar >= 1, "targetMultiChar must be >= 1")
    require(shrink > 0.0 && shrink < 1.0, "shrink in (0, 1)")
    val w = Checkpoints.pin(words, reliable = false)
    var vocab = unigramCapVocab(unigramSeedFromWords(w, maxPieceLen), cap)
    var rounds = 0
    while (vocab.count(_._1.length >= 2) > targetMultiChar && rounds < maxRounds) {
      val m = vocab.count(_._1.length >= 2)
      val keep = math.max(targetMultiChar, math.floor(m * shrink).toInt)
      val em = Checkpoints.pin(unigramEmStepFromWords(w, vocab), reliable = false)
      vocab = unigramNextVocab(em, unigramPrune(em, keep))
      rounds += 1
    }
    vocab
  }

  /** Tokenize the corpus with a learned merge list: every merge pass runs
    * over the DISTINCT-WORD table (pinned every `pinEvery` passes so plan
    * depth stays bounded at 30k-merge vocabularies), then the corpus
    * joins the finished word->tokens map once — broadcastable whenever
    * the distinct-word table is (millions of rows), and the corpus itself
    * is touched exactly twice total (the word groupBy + the join), at ANY
    * merge count. Output: one row per doc with its token array and count. */
  def bpeEncode(
      docs: DataFrame,
      merges: Seq[(String, String)],
      idCol: String = "doc_id",
      textCol: String = "text",
      pinEvery: Int = 16,
      reliable: Boolean = false): DataFrame = {
    var words = bpeWords(docs, textCol).select(col("word"), col("syms"))
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      words = bpeApplyMerge(words, a, b)
      if ((i + 1) % pinEvery == 0) words = Checkpoints.pin(words, reliable)
    }
    val encoded = words.select(col("word"), col("syms").as("tokens"))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(encoded, Seq("word"))
      .groupBy(col(idCol))
      .agg(
        sum(size(col("tokens"))).as("n_tokens"),
        count(lit(1)).as("n_words"))
  }
}
