package graft
package rows

import org.apache.spark.sql.functions._
import graft.functions.VectorFns
import graft.operators.{CurationOps, DedupOps, MultimodalOps, RetrievalOps, SimilarityOps, TextOps}
import graft.sources.Tables
import graft.SparkEntry._

/** The training-data pipeline rows of the driver contract (SURVEY.md
  * §G): dedup, sketches, embedding similarity and retrieval, tokenizers,
  * quality and language models, and their streaming twins. */
private[graft] object TrainingRows {

  /** The bitext ratio-margin definition truth, shared by g_bitext_margin
    * (exact cross product) and g_bitext_ivf (probe-all IVF candidates ==
    * the cross product — the scale path's losslessness gate). Same
    * fixed-point pipeline both sides: floored-cos LONGs, top-k integer
    * neighborhood sums (sum(BIGINT) -> HUGEINT, cast back), the three
    * divisions over identical operands, argmax with ties to smallest y. */
  /** The semantic-decontamination definition truth, shared by
    * g_decontam_semantic (exact cross product) and g_decontam_ivf
    * (probe-all IVF candidates == the cross product): floored-cos LONG,
    * per-eval argmax with ties to the smallest train id, threshold flag
    * compared on the quantized integer. */
  private lazy val oracleSqlDecontamSemantic: String =
    """WITH x AS (
      |  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS xv
      |  FROM embeddings WHERE label = 0),
      |y AS (
      |  SELECT vec_id AS train_id, CAST(embedding AS DOUBLE[]) AS yv
      |  FROM embeddings WHERE label = 1),
      |sc AS (
      |  SELECT eval_id, train_id,
      |    CAST(floor((list_dot_product(xv, yv) /
      |      (sqrt(list_dot_product(xv, xv)) * sqrt(list_dot_product(yv, yv)))) * 10000.0)
      |      AS BIGINT) AS s
      |  FROM x CROSS JOIN y),
      |r AS (SELECT eval_id, train_id, s,
      |        row_number() OVER (PARTITION BY eval_id ORDER BY s DESC, train_id) AS rn
      |      FROM sc)
      |SELECT eval_id, train_id, CAST(s AS DOUBLE) / 1e4 AS sim,
      |       (s >= 3000) AS contaminated
      |FROM r WHERE rn = 1 ORDER BY eval_id""".stripMargin

  private lazy val oracleSqlBitextMargin: String =
    """WITH x AS (
        |  SELECT vec_id AS x_id, CAST(embedding AS DOUBLE[]) AS xv
        |  FROM embeddings WHERE label = 0),
        |y AS (
        |  SELECT vec_id AS y_id, CAST(embedding AS DOUBLE[]) AS yv
        |  FROM embeddings WHERE label = 1),
        |sc AS (
        |  SELECT x_id, y_id,
        |    CAST(floor((list_dot_product(xv, yv) /
        |      (sqrt(list_dot_product(xv, xv)) * sqrt(list_dot_product(yv, yv)))) * 10000.0)
        |      AS BIGINT) AS s
        |  FROM x CROSS JOIN y),
        |fw AS (
        |  SELECT x_id, CAST(sum(s) AS BIGINT) AS fwd, count(*) AS nf FROM (
        |    SELECT x_id, s, row_number() OVER (PARTITION BY x_id ORDER BY s DESC, y_id) AS rn
        |    FROM sc) t WHERE rn <= 4 GROUP BY x_id),
        |bw AS (
        |  SELECT y_id, CAST(sum(s) AS BIGINT) AS bwd, count(*) AS nb FROM (
        |    SELECT y_id, s, row_number() OVER (PARTITION BY y_id ORDER BY s DESC, x_id) AS rn
        |    FROM sc) t WHERE rn <= 4 GROUP BY y_id),
        |m AS (
        |  SELECT sc.x_id, sc.y_id,
        |    floor(((2.0 * s) / (CAST(fwd AS DOUBLE) / nf + CAST(bwd AS DOUBLE) / nb)) * 10000) / 10000 AS margin
        |  FROM sc JOIN fw USING (x_id) JOIN bw USING (y_id)),
        |best AS (
        |  SELECT x_id, y_id, margin,
        |    row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS rn
        |  FROM m)
        |SELECT x_id, y_id, margin FROM best WHERE rn = 1 ORDER BY x_id""".stripMargin

  /** Full replay of [[SimilarityOps.sq8TopK]] (pruned=false) /
    * [[SimilarityOps.ivfSq8TopK]] (pruned=true, fixture centroids,
    * nProbe=2): symmetric int8 encode, exact-integer quantized-cosine
    * ranking (one double division of exact longs), top-(k·refine)
    * shortlist, floored-cosine re-rank. */
  private def sq8OracleSql(pruned: Boolean): String = {
    val coarseCols = if (pruned) s",\n        ${fixtureCosSql("v", "cc_")}" else ""
    val cellCol = if (pruned) s", ${fixtureCellSql("cc_")} AS cell" else ""
    val prunedCtes =
      if (!pruned) ""
      else
        s""",
           |qcs AS (SELECT ${fixtureCosSql("qv0", "qc_")}
           |        FROM (SELECT v AS qv0 FROM v WHERE vec_id = 0)),
           |$fixtureProbeCteSql""".stripMargin
    val whereCell = if (pruned) " AND c.cell IN (SELECT cid FROM probe)" else ""
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |m AS (SELECT vec_id, v,
       |        list_max(list_transform(v, x -> abs(x))) AS mx$coarseCols FROM v),
       |c AS (SELECT vec_id,
       |        list_transform(v, x -> CASE WHEN mx = 0 THEN 0
       |          ELSE greatest(-127, least(127, floor(x * 127.0 / mx + 0.5))) END) AS c$cellCol
       |      FROM m),
       |qc AS (SELECT c AS qc, list_dot_product(c, c) AS qnrm FROM c WHERE vec_id = 0)$prunedCtes,
       |sc AS (SELECT vec_id,
       |         CAST(list_dot_product(c.c, qc) AS BIGINT) AS q_dot,
       |         list_dot_product(c.c, c.c) AS nrm, qnrm
       |       FROM c, qc WHERE 1 = 1$whereCell),
       |short AS (SELECT vec_id, q_dot FROM sc WHERE nrm > 0
       |          ORDER BY (CAST(q_dot AS DOUBLE) / (sqrt(nrm) * sqrt(qnrm))) DESC, vec_id
       |          LIMIT 80),
       |q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
       |re AS (SELECT s.vec_id, s.q_dot,
       |        floor((list_dot_product(w.v, qv) /
       |              (sqrt(list_dot_product(w.v, w.v)) * sqrt(list_dot_product(qv, qv)))) * 10000) / 10000 AS sim
       |       FROM short s JOIN v w ON w.vec_id = s.vec_id, q)
       |SELECT vec_id, q_dot, sim FROM re ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin
  }

  /** The full-batch logistic-GD trainer replayed in SQL — shared by
    * g_logit_train (batch) and q_stream_logit (streamed feature
    * maintenance). The whole descent unrolls as CTE pairs (g_s = the
    * step's exact-integer gradient sums, w_s = the updated unit
    * weights), mirroring [[graft.operators.TextOps.logitTrain]]
    * expression-for-expression: `(units · 1e-8) · x` doubles, per-row
    * contributions floored to 1e-8 units and summed as DECIMAL(38,0),
    * the power-of-two learning rate applied by double floor. Generated
    * programmatically from [[logitFeatureSql]] (the xCols seam) and
    * [[GraftConf.LogitStepsDefault]], so d and the step count each live
    * in ONE place. */
  private lazy val logitTrainOracleSql: String = descentOracleSql(
    "CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END",
    zz => s"1.0 / (1.0 + exp(-($zz)))")

  /** The Poisson (log-link) GLM descent replayed in SQL — the SAME
    * unrolled-CTE generator as the logit oracle with the mean function
    * swapped to `exp(z)` and the outcome the token count in kilotokens
    * (pre-scaled so exp stays O(0.1); see
    * [[graft.operators.TextOps.glmTrainLog]]). */
  private lazy val glmPoissonOracleSql: String = descentOracleSql(
    "len(string_split(text, ' ')) / 1000.0",
    zz => s"exp($zz)")

  /** Platt scaling replayed in SQL: the whole [[logitTrainOracleSql]]
    * descent as a subquery, its scores re-entering a SECOND unrolled
    * descent as the 1-d feature (bias + raw logit) — a descent over a
    * descent from the same generator. */
  private lazy val logitPlattOracleSql: String = {
    val core = logitTrainOracleSql.stripSuffix(" ORDER BY doc_id")
    s"""WITH scored AS ($core),
      |f AS (SELECT doc_id, label AS y, CAST(1.0 AS DOUBLE) AS x0,
      |             logit AS x1 FROM scored)""".stripMargin +
      descentLoopSql(Seq("x0", "x1"), zz => s"1.0 / (1.0 + exp(-($zz)))")
  }

  /** The unigram family's shared DuckDB materializations — the
    * [[phashSharedDdl]] discipline (one connection per checker run;
    * `IF NOT EXISTS` makes the first family member pay each derivation
    * once, order-free, definitions from ONE lazy val so they cannot
    * drift): the distinct-word table, the substring seed, the round-1
    * best paths under the capped seed vocabulary (the brute-force
    * RECURSIVE-CTE enumeration of every segmentation per word, winner by
    * the kernel's exact `(cost, chr(1)-joined path)` tie-break; max word
    * length 8 bounds the enumeration at ~tetranacci(8) paths), the
    * hard-EM piece counts, the pruned round-2 vocabulary, and the round-2
    * best paths. Split in three cumulative prefixes so a subset check of
    * a round-1 row never pays the round-2 enumeration. */
  private lazy val unigramSeedDdl: String =
    """CREATE TEMP TABLE IF NOT EXISTS graft_ug_w AS
      |SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
      |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE len(word) > 0 GROUP BY word;
      |CREATE TEMP TABLE IF NOT EXISTS graft_ug_seed AS
      |SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |  SELECT freq, unnest(list_filter(flatten(
      |    list_transform(range(1, len(word) + 1), s ->
      |      list_transform(range(1, 5), l ->
      |        CASE WHEN s + l - 1 <= len(word)
      |             THEN substring(word, CAST(s AS INT), CAST(l AS INT)) END))),
      |    p -> p IS NOT NULL)) AS piece
      |  FROM graft_ug_w)
      |GROUP BY piece;
      |""".stripMargin

  private lazy val unigramRound1Ddl: String =
    unigramSeedDdl +
      """CREATE TEMP TABLE IF NOT EXISTS graft_ug_best AS
      |WITH RECURSIVE
      |cap AS (SELECT piece, cnt FROM graft_ug_seed
      |        ORDER BY cnt DESC, piece LIMIT 64),
      |vocab AS (SELECT DISTINCT piece, cnt FROM (
      |  SELECT piece, cnt FROM cap
      |  UNION ALL SELECT piece, cnt FROM graft_ug_seed WHERE len(piece) = 1)),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab),
      |v AS (SELECT piece,
      |        CAST(floor((ln(CAST(t AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
      |             * 100000000) AS BIGINT) AS u
      |      FROM vocab CROSS JOIN tot),
      |seg AS (
      |  SELECT word, freq, CAST(0 AS BIGINT) AS pos,
      |         CAST(0 AS BIGINT) AS cost, CAST('' AS VARCHAR) AS path
      |  FROM graft_ug_w
      |  UNION ALL
      |  SELECT s.word, s.freq, s.pos + len(v.piece), s.cost + v.u,
      |         s.path || chr(1) || v.piece
      |  FROM seg s JOIN v
      |    ON substring(s.word, CAST(s.pos + 1 AS INT), len(v.piece)) = v.piece
      |  WHERE s.pos < len(s.word)),
      |b AS (
      |  SELECT word, freq, path,
      |         row_number() OVER (PARTITION BY word ORDER BY cost, path) AS rn
      |  FROM seg WHERE pos = len(word))
      |SELECT word, freq, path FROM b WHERE rn = 1;
      |CREATE TEMP TABLE IF NOT EXISTS graft_ug_emc AS
      |SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |  SELECT freq, unnest(string_split(path, chr(1))) AS piece
      |  FROM graft_ug_best) x
      |WHERE piece <> '' GROUP BY piece;
      |""".stripMargin

  private lazy val unigramRound2Ddl: String =
    unigramRound1Ddl +
      """CREATE TEMP TABLE IF NOT EXISTS graft_ug_vocab2 AS
      |WITH
      |tot2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM graft_ug_emc),
      |u2 AS (SELECT piece, cnt,
      |        CAST(floor((ln(CAST(t AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
      |             * 100000000) AS BIGINT) AS u,
      |        CAST(floor(ln(CAST(t AS DOUBLE)) * 100000000) AS BIGINT) AS uc
      |      FROM graft_ug_emc CROSS JOIN tot2),
      |ch2 AS (SELECT piece AS c2, u AS cu FROM u2 WHERE len(piece) = 1),
      |alt2 AS (SELECT piece, cnt, u,
      |          CAST(sum(coalesce(cu, uc)) AS BIGINT) AS alt
      |        FROM (SELECT piece, cnt, u, uc,
      |                unnest(list_transform(range(1, len(piece) + 1),
      |                  i -> substring(piece, CAST(i AS INT), 1))) AS c2
      |              FROM u2 WHERE len(piece) >= 2) x
      |        LEFT JOIN ch2 USING (c2)
      |        GROUP BY piece, cnt, u),
      |k2 AS (SELECT piece, cnt,
      |        CAST(row_number() OVER (ORDER BY
      |          CAST(CAST(cnt AS HUGEINT) * (alt - u) AS BIGINT) DESC, piece)
      |          AS BIGINT) AS rank
      |      FROM alt2)
      |SELECT DISTINCT piece, cnt FROM (
      |  SELECT piece, cnt FROM k2 WHERE rank <= 16
      |  UNION ALL SELECT piece, cnt FROM graft_ug_emc WHERE len(piece) = 1);
      |CREATE TEMP TABLE IF NOT EXISTS graft_ug_best2 AS
      |WITH RECURSIVE
      |tot3 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM graft_ug_vocab2),
      |v2 AS (SELECT piece,
      |        CAST(floor((ln(CAST(t AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
      |             * 100000000) AS BIGINT) AS u
      |      FROM graft_ug_vocab2 CROSS JOIN tot3),
      |seg2 AS (
      |  SELECT word, freq, CAST(0 AS BIGINT) AS pos,
      |         CAST(0 AS BIGINT) AS cost, CAST('' AS VARCHAR) AS path
      |  FROM graft_ug_w
      |  UNION ALL
      |  SELECT s.word, s.freq, s.pos + len(v.piece), s.cost + v.u,
      |         s.path || chr(1) || v.piece
      |  FROM seg2 s JOIN v2 v
      |    ON substring(s.word, CAST(s.pos + 1 AS INT), len(v.piece)) = v.piece
      |  WHERE s.pos < len(s.word)),
      |b2 AS (
      |  SELECT word, freq, path,
      |         row_number() OVER (PARTITION BY word ORDER BY cost, path) AS rn
      |  FROM seg2 WHERE pos = len(word))
      |SELECT word, freq, path FROM b2 WHERE rn = 1;
      |""".stripMargin

  /** The SentencePiece prune step replayed in SQL: the same seed and
    * integer nll units, the char-fallback loss
    * `cnt · (Σ_ch nll(ch) − nll(piece))` (missing standalone chars at
    * the cnt = 1 ceiling), the (loss desc, piece) rank, top-32 kept. */
  private lazy val unigramPruneOracleSql: String =
    unigramSeedDdl +
      s"""WITH
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM graft_ug_seed),
      |u AS (SELECT piece, cnt,
      |        CAST(floor((ln(CAST(t AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
      |             * 100000000) AS BIGINT) AS u,
      |        CAST(floor(ln(CAST(t AS DOUBLE)) * 100000000) AS BIGINT) AS uc
      |      FROM graft_ug_seed CROSS JOIN tot),
      |ch AS (SELECT piece AS c2, u AS cu FROM u WHERE len(piece) = 1),
      |alt AS (SELECT piece, cnt, u,
      |          CAST(sum(coalesce(cu, uc)) AS BIGINT) AS alt
      |        FROM (SELECT piece, cnt, u, uc,
      |                unnest(list_transform(range(1, len(piece) + 1),
      |                  i -> substring(piece, CAST(i AS INT), 1))) AS c2
      |              FROM u WHERE len(piece) >= 2) x
      |        LEFT JOIN ch USING (c2)
      |        GROUP BY piece, cnt, u),
      |r AS (SELECT piece, cnt,
      |        CAST(CAST(cnt AS HUGEINT) * (alt - u) AS BIGINT) AS loss
      |      FROM alt),
      |k AS (SELECT piece, cnt, loss,
      |        CAST(row_number() OVER (ORDER BY loss DESC, piece) AS BIGINT) AS rank
      |      FROM r)
      |SELECT piece, cnt, loss, rank FROM k WHERE rank <= 32
      |ORDER BY rank""".stripMargin

  /** The hard-EM step's visible tail: the re-estimated piece counts are
    * the shared `graft_ug_emc` materialization. */
  private lazy val unigramStepOracleSql: String =
    unigramRound1Ddl +
      """SELECT piece, cnt FROM graft_ug_emc
      |ORDER BY cnt DESC, piece LIMIT 50""".stripMargin

  /** The composed trainer pipeline replayed in SQL, every stage nested
    * via the shared materializations: the EM-step counts re-enter the
    * prune's char-fallback loss rank (`graft_ug_vocab2`), and the SECOND
    * brute-force segmentation enumeration under the re-derived units
    * (`graft_ug_best2`) encodes every word. A word the pruned vocabulary
    * cannot cover has no complete path — LEFT JOIN + coalesce(0) mirrors
    * the kernel's empty-array contract. */
  private lazy val unigramPipelineOracleSql: String =
    unigramRound2Ddl +
      """WITH enc2 AS (SELECT word,
      |          CAST(len(string_split(path, chr(1))) - 1 AS BIGINT) AS n
      |        FROM graft_ug_best2),
      |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |       FROM documents)
      |SELECT doc_id, CAST(sum(coalesce(n, 0)) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_words
      |FROM dw LEFT JOIN enc2 USING (word)
      |WHERE len(word) > 0
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The corpus encode replayed in SQL: per-word token counts from the
    * SAME best-path enumeration (the path is `chr(1)`-joined, so pieces
    * = len(split) − 1), the corpus words re-exploded and joined — the
    * oracle pays the join per occurrence exactly like the engine. LEFT
    * JOIN + coalesce(0), not INNER: the engine contract
    * (unigramEncodeFromWords) keeps a word the vocabulary cannot cover
    * VISIBLE as a 0-token word — equivalent here only because the capped
    * seed vocabulary contains every single character, but the oracle must
    * encode the contract, not the coincidence. */
  private lazy val unigramEncodeOracleSql: String =
    unigramRound1Ddl +
      """WITH enc AS (SELECT word,
      |          CAST(len(string_split(path, chr(1))) - 1 AS BIGINT) AS n
      |        FROM graft_ug_best),
      |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |       FROM documents)
      |SELECT doc_id, CAST(sum(coalesce(n, 0)) AS BIGINT) AS n_tokens,
      |       CAST(count(*) AS BIGINT) AS n_words
      |FROM dw LEFT JOIN enc USING (word)
      |WHERE len(word) > 0
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The two-EM-round trainer replayed in SQL: round-2 piece counts from
    * the `graft_ug_best2` enumeration (EM under the PRUNED round-1
    * vocabulary — the materializations nest seed → EM → prune → EM), then
    * the prune loss/rank replay keeps the top 8. Gates that the driver
    * loop's second iteration really segments under the re-derived units —
    * a drifted count or tie-break anywhere in EITHER round moves a rank. */
  private lazy val unigramTrainOracleSql: String =
    unigramRound2Ddl +
      """WITH emc2 AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |  SELECT freq, unnest(string_split(path, chr(1))) AS piece
      |  FROM graft_ug_best2) x
      |  WHERE piece <> '' GROUP BY piece),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM emc2),
      |u AS (SELECT piece, cnt,
      |        CAST(floor((ln(CAST(t AS DOUBLE)) - ln(CAST(cnt AS DOUBLE)))
      |             * 100000000) AS BIGINT) AS u,
      |        CAST(floor(ln(CAST(t AS DOUBLE)) * 100000000) AS BIGINT) AS uc
      |      FROM emc2 CROSS JOIN tot),
      |ch AS (SELECT piece AS c2, u AS cu FROM u WHERE len(piece) = 1),
      |alt AS (SELECT piece, cnt, u,
      |          CAST(sum(coalesce(cu, uc)) AS BIGINT) AS alt
      |        FROM (SELECT piece, cnt, u, uc,
      |                unnest(list_transform(range(1, len(piece) + 1),
      |                  i -> substring(piece, CAST(i AS INT), 1))) AS c2
      |              FROM u WHERE len(piece) >= 2) x
      |        LEFT JOIN ch USING (c2)
      |        GROUP BY piece, cnt, u),
      |r AS (SELECT piece, cnt,
      |        CAST(CAST(cnt AS HUGEINT) * (alt - u) AS BIGINT) AS loss
      |      FROM alt),
      |k AS (SELECT piece, cnt, loss,
      |        CAST(row_number() OVER (ORDER BY loss DESC, piece) AS BIGINT) AS rank
      |      FROM r)
      |SELECT piece, cnt, loss, rank FROM k WHERE rank <= 8
      |ORDER BY rank""".stripMargin

  /** The calibrated quality loop replayed in SQL: the ENTIRE
    * [[logitPlattOracleSql]] (a descent nested in a descent) as a
    * subquery, its calibrated log-odds thresholded at 0, the kept corpus
    * and the raw corpus reduced to per-source cards and differenced —
    * the g_card_delta tail over a two-descent head. */
  private lazy val qualityLoopOracleSql: String = {
    val cal = logitPlattOracleSql.stripSuffix(" ORDER BY doc_id")
    def card = """CAST(count(*) AS BIGINT) AS n_docs,
      |        CAST(sum(length(text)) AS BIGINT) AS n_chars,
      |        CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |        CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_texts,
      |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs""".stripMargin
    s"""WITH cal AS ($cal),
      |keep AS (SELECT doc_id FROM cal WHERE logit >= 0.0),
      |b AS (SELECT source, $card
      |      FROM documents GROUP BY source),
      |a AS (SELECT source, $card
      |      FROM documents JOIN keep USING (doc_id) GROUP BY source)
      |SELECT b.source,
      |  coalesce(a.n_docs, 0) AS n_docs,
      |  coalesce(a.n_docs, 0) - b.n_docs AS d_n_docs,
      |  coalesce(a.n_chars, 0) AS n_chars,
      |  coalesce(a.n_chars, 0) - b.n_chars AS d_n_chars,
      |  coalesce(a.n_tokens, 0) AS n_tokens,
      |  coalesce(a.n_tokens, 0) - b.n_tokens AS d_n_tokens,
      |  coalesce(a.n_distinct_texts, 0) AS n_distinct_texts,
      |  coalesce(a.n_distinct_texts, 0) - b.n_distinct_texts AS d_n_distinct_texts,
      |  coalesce(a.n_langs, 0) AS n_langs,
      |  coalesce(a.n_langs, 0) - b.n_langs AS d_n_langs
      |FROM b LEFT JOIN a USING (source)
      |ORDER BY b.source""".stripMargin
  }

  /** The Bradley–Terry pairwise fit replayed in SQL: the
    * [[prefPairsOracleSql]] pairing, per-doc features from the SHARED
    * [[logitFeatureSql]] generator, chosen−rejected diffs as the
    * feature frame, the whole unrolled descent (y = 1 rows), and the
    * classEval pivot over sign-of-logit predictions. */
  private lazy val btFitOracleSql: String = {
    val xs = logitFeatureSql.map(_._1)
    val pairsCore = prefPairsOracleSql.stripSuffix("\nORDER BY c.source, pair_rank")
    val scoredCte =
      s"""WITH pr AS ($pairsCore),
        |ft AS (SELECT doc_id,
        |  ${logitFeatureSql.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}
        |FROM documents),
        |f AS (SELECT p.chosen_id AS doc_id, CAST(1.0 AS DOUBLE) AS y,
        |  ${xs.map(x => s"c.$x - r.$x AS $x").mkString(",\n  ")}
        |FROM pr p JOIN ft c ON c.doc_id = p.chosen_id
        |          JOIN ft r ON r.doc_id = p.rejected_id)""".stripMargin +
        descentLoopSql(xs, zz => s"1.0 / (1.0 + exp(-($zz)))")
          .stripSuffix(" ORDER BY doc_id")
    classEvalPivotSql(
      s"""WITH sc AS ($scoredCte),
        |lab AS (SELECT doc_id, 'pref' AS label,
        |        CASE WHEN logit >= 0.0 THEN 'pref' ELSE 'anti' END AS pred
        |        FROM sc)""".stripMargin)
  }

  /** The Bradley–Terry reward RANKER replayed in SQL — the selection
    * consumer of [[btFitOracleSql]]'s fit: the same pairing + diffs +
    * unrolled descent, but the trained weights then score EVERY document
    * (not the diffs), and each source keeps its top quarter by reward
    * through the exact count-derived quota + single-window rank the
    * salted scoreQuantileFilter provably reproduces (the
    * g_quality_quantile oracle pattern). */
  private lazy val btRankOracleSql: String = {
    val xs = logitFeatureSql.map(_._1)
    val steps = GraftConf.LogitStepsDefault
    val pairsCore = prefPairsOracleSql.stripSuffix("\nORDER BY c.source, pair_rank")
    val zz = xs.zipWithIndex.map { case (x, j) => s"(w.u$j * 1e-8) * ft.$x" }
      .mkString(" + ")
    s"""WITH pr AS ($pairsCore),
      |ft AS (SELECT doc_id, source,
      |  ${logitFeatureSql.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}
      |FROM documents),
      |f AS (SELECT p.chosen_id AS doc_id, CAST(1.0 AS DOUBLE) AS y,
      |  ${xs.map(x => s"c.$x - r.$x AS $x").mkString(",\n  ")}
      |FROM pr p JOIN ft c ON c.doc_id = p.chosen_id
      |          JOIN ft r ON r.doc_id = p.rejected_id)""".stripMargin +
      descentStepsSql(xs, z => s"1.0 / (1.0 + exp(-($z)))") +
      s""",
      |sc AS (SELECT ft.doc_id, ft.source,
      |         floor(($zz) * 1000000) / 1000000 AS reward
      |       FROM ft CROSS JOIN w$steps w),
      |c AS (SELECT source, CAST(ceil(0.25 * CAST(count(*) AS DOUBLE)) AS BIGINT) AS quota
      |      FROM sc GROUP BY source),
      |r AS (SELECT sc.doc_id, sc.source, sc.reward,
      |        CAST(row_number() OVER (
      |          PARTITION BY sc.source ORDER BY sc.reward DESC, sc.doc_id) AS INT) AS rank,
      |        c.quota
      |      FROM sc JOIN c USING (source))
      |SELECT doc_id, source, reward, rank FROM r WHERE rank <= quota
      |ORDER BY doc_id""".stripMargin
  }

  /** The train→evaluate loop replayed in SQL: the whole
    * [[logitTrainOracleSql]] descent as a subquery, reduced to the exact
    * confusion counts at the logit-0 decision boundary and the derived
    * precision/recall/F1 (single-division forms, 6-digit floor). */
  private lazy val logitEvalOracleSql: String = {
    val core = logitTrainOracleSql.stripSuffix(" ORDER BY doc_id")
    s"""WITH scored AS ($core)
      |SELECT
      |  CAST(sum(CASE WHEN label = 1.0 AND logit >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(sum(CASE WHEN label = 0.0 AND logit >= 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(sum(CASE WHEN label = 1.0 AND logit < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |  CAST(sum(CASE WHEN label = 0.0 AND logit < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
      |  floor(CASE WHEN sum(CASE WHEN logit >= 0.0 THEN 1 ELSE 0 END) > 0
      |    THEN CAST(sum(CASE WHEN label = 1.0 AND logit >= 0.0 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / sum(CASE WHEN logit >= 0.0 THEN 1 ELSE 0 END)
      |    ELSE 0.0 END * 1000000) / 1000000 AS precision_,
      |  floor(CASE WHEN sum(CASE WHEN label = 1.0 THEN 1 ELSE 0 END) > 0
      |    THEN CAST(sum(CASE WHEN label = 1.0 AND logit >= 0.0 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / sum(CASE WHEN label = 1.0 THEN 1 ELSE 0 END)
      |    ELSE 0.0 END * 1000000) / 1000000 AS recall_,
      |  floor(CASE WHEN 2 * sum(CASE WHEN label = 1.0 AND logit >= 0.0 THEN 1 ELSE 0 END)
      |             + sum(CASE WHEN label = 0.0 AND logit >= 0.0 THEN 1 ELSE 0 END)
      |             + sum(CASE WHEN label = 1.0 AND logit < 0.0 THEN 1 ELSE 0 END) > 0
      |    THEN CAST(2 * sum(CASE WHEN label = 1.0 AND logit >= 0.0 THEN 1 ELSE 0 END) AS DOUBLE)
      |         / (2 * sum(CASE WHEN label = 1.0 AND logit >= 0.0 THEN 1 ELSE 0 END)
      |            + sum(CASE WHEN label = 0.0 AND logit >= 0.0 THEN 1 ELSE 0 END)
      |            + sum(CASE WHEN label = 1.0 AND logit < 0.0 THEN 1 ELSE 0 END))
      |    ELSE 0.0 END * 1000000) / 1000000 AS f1
      |FROM scored""".stripMargin
  }

  /** Interpolated Kneser–Ney cross-corpus scoring replayed in SQL —
    * shared by g_kn_score (batch) and q_stream_kn (streamed count
    * maintenance): one truth, one hash. Every stage mirrors
    * [[graft.operators.TextOps.knScore]] expression-for-expression:
    * exact-binary D = 0.75, the max(·,1) Pcont floor, the unseen-context
    * Pcont fallback, ln quantized to DECIMAL(18,8) before the
    * multiplicity-weighted exact sum, floor at 4 digits. */
  private lazy val knScoreOracleSql: String =
    s"""WITH lm AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      |sc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
      |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM lm) GROUP BY 1),
      |vocab AS (SELECT w FROM uni WHERE c >= ${GraftConf.KnMinCountDefault}),
      |lmt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM lm),
      |lmpairs AS (
      |  SELECT CASE WHEN v1.w IS NULL THEN '<unk>' ELSE pr[1] END AS w1,
      |         CASE WHEN v2.w IS NULL THEN '<unk>' ELSE pr[2] END AS w2
      |  FROM (SELECT unnest(list_transform(range(1, len(ts)), i -> [ts[i], ts[i + 1]])) AS pr
      |        FROM lmt) p
      |  LEFT JOIN vocab v1 ON v1.w = pr[1]
      |  LEFT JOIN vocab v2 ON v2.w = pr[2]),
      |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM lmpairs GROUP BY 1, 2),
      |ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
      |               CAST(count(*) AS BIGINT) AS n1f FROM c2 GROUP BY 1),
      |pred AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM c2 GROUP BY 1),
      |btot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM c2),
      |sct AS (SELECT doc_id, string_split(text, ' ') AS ts FROM sc),
      |scpairs AS (
      |  SELECT doc_id,
      |         CASE WHEN v1.w IS NULL THEN '<unk>' ELSE pr[1] END AS w1,
      |         CASE WHEN v2.w IS NULL THEN '<unk>' ELSE pr[2] END AS w2
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(ts)), i -> [ts[i], ts[i + 1]])) AS pr
      |        FROM sct) p
      |  LEFT JOIN vocab v1 ON v1.w = pr[1]
      |  LEFT JOIN vocab v2 ON v2.w = pr[2]),
      |dp AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS cnt
      |       FROM scpairs GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT doc_id, cnt,
      |    CASE WHEN coalesce(c1, 0) > 0
      |      THEN (greatest(CAST(coalesce(c2, 0) AS DOUBLE) - 0.75, 0.0)
      |            + 0.75 * CAST(coalesce(n1f, 0) AS DOUBLE)
      |                   * (CAST(greatest(coalesce(n1b, 0), 1) AS DOUBLE)
      |                      / CAST(b AS DOUBLE)))
      |           / CAST(c1 AS DOUBLE)
      |      ELSE CAST(greatest(coalesce(n1b, 0), 1) AS DOUBLE) / CAST(b AS DOUBLE)
      |    END AS p
      |  FROM dp LEFT JOIN c2 USING (w1, w2) LEFT JOIN ctx USING (w1)
      |          LEFT JOIN pred USING (w2) CROSS JOIN btot)
      |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |       floor((CAST(sum(CAST(ln(p) AS DECIMAL(18,8)) * cnt) AS DOUBLE)
      |              / sum(cnt)) * 10000) / 10000 AS avg_logprob
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The feature-hashed logistic descent replayed in SQL
    * ([[graft.operators.TextOps.logitTrainHashed]]): weights live as CTE
    * FRAMES (bkt, u) instead of scalar columns — w_s joins g_s on the
    * bucket — and the per-doc activation is an exact BIGINT unit-sum
    * with one double conversion. Token buckets via the cross-engine
    * polynomial hash (the DSIR idiom). Generated programmatically so the
    * step count stays in one place. */
  private lazy val logitHashedOracleSql: String = {
    val steps = GraftConf.LogitStepsDefault
    val sb = new StringBuilder
    sb ++= """WITH tk AS (SELECT doc_id,
      |        CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS y,
      |        unnest(string_split(text, ' ')) AS tok
      |      FROM documents),
      |tokb AS (SELECT doc_id, y,
      |        list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          list_transform(range(1, length(tok)+1),
      |            i -> CAST(unicode(tok[i]) AS BIGINT))),
      |          (acc, c) -> (acc*31 + c) % 1000000007) % 64 AS bkt,
      |        CAST(count(*) AS BIGINT) AS cnt
      |      FROM tk GROUP BY 1, 2, 3),
      |w0 AS (SELECT DISTINCT bkt, CAST(0 AS BIGINT) AS u FROM tokb)""".stripMargin
    for (s <- 1 to steps) {
      sb ++= s""",
        |z$s AS (SELECT doc_id, y, CAST(sum(cnt * u) AS BIGINT) AS zu
        |        FROM tokb JOIN w${s - 1} USING (bkt) GROUP BY 1, 2),
        |r$s AS (SELECT doc_id,
        |          1.0 / (1.0 + exp(-(CAST(zu AS DOUBLE) * 1e-8))) - y AS r
        |        FROM z$s),
        |g$s AS (SELECT bkt, sum(CAST(floor(cnt * r * 1e8) AS DECIMAL(38,0))) AS g
        |        FROM tokb JOIN r$s USING (doc_id) GROUP BY 1),
        |w$s AS (SELECT bkt, u - CAST(floor(CAST(g AS DOUBLE) / 4096.0) AS BIGINT) AS u
        |        FROM w${s - 1} JOIN g$s USING (bkt))""".stripMargin
    }
    sb ++= s"""
      |SELECT doc_id, y AS label,
      |       floor((CAST(zu AS DOUBLE) * 1e-8) * 1000000) / 1000000 AS logit
      |FROM (SELECT doc_id, y, CAST(sum(cnt * u) AS BIGINT) AS zu
      |      FROM tokb JOIN w$steps USING (bkt) GROUP BY 1, 2)
      |ORDER BY doc_id""".stripMargin
    sb.toString
  }

  /** Multinomial Naive Bayes train-and-classify replayed in SQL — shared
    * by g_nb_langid (batch) and q_stream_nb (streamed count maintenance).
    * Mirrors [[graft.operators.TextOps.nbTrainScore]]: add-one smoothing
    * over exact class-token counts, ln quantized to DECIMAL(18,8), pure
    * decimal per-(doc, class) scores, (score desc, class asc) argmax. */
  private lazy val nbLangidOracleSql: String =
    """WITH lm AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      |sc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
      |cls AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS dc FROM lm GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS d FROM lm),
      |lmtoks AS (SELECT lang AS c, unnest(string_split(text, ' ')) AS w FROM lm),
      |ncw AS (SELECT c, w, CAST(count(*) AS BIGINT) AS n FROM lmtoks GROUP BY 1, 2),
      |tc AS (SELECT c, CAST(sum(n) AS BIGINT) AS t FROM ncw GROUP BY 1),
      |voc AS (SELECT CAST(count(*) AS BIGINT) AS v
      |        FROM (SELECT DISTINCT w FROM ncw)),
      |prior AS (SELECT c, CAST(ln(CAST(dc AS DOUBLE) / d) AS DECIMAL(18,8)) AS lnp
      |          FROM cls CROSS JOIN tot),
      |dtoks AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
      |          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM sc)
      |          GROUP BY 1, 2),
      |scored AS (
      |  SELECT doc_id, c,
      |    max(lnp) + sum(CAST(ln((CAST(coalesce(n, 0) AS DOUBLE) + 1.0) / (t + v))
      |                        AS DECIMAL(18,8)) * cnt) AS score
      |  FROM dtoks CROSS JOIN (SELECT c FROM cls) cl
      |       LEFT JOIN ncw USING (c, w) JOIN tc USING (c) JOIN prior USING (c)
      |       CROSS JOIN voc
      |  GROUP BY 1, 2),
      |ranked AS (SELECT doc_id, c, score,
      |             row_number() OVER (PARTITION BY doc_id
      |                                ORDER BY score DESC, c) AS rn
      |           FROM scored)
      |SELECT doc_id, c AS pred, CAST(score AS DOUBLE) AS score
      |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Exact tie-aware ROC-AUC replayed in SQL over the whole
    * [[logitTrainOracleSql]] descent: quantize to 1e-6 units, per-unit
    * counts, strictly-below negatives via ONE window (the single-window
    * formulation the two-phase Spark plan provably equals), Mann–Whitney
    * numerator as exact decimals, one double division, 6-digit floor. */
  private lazy val logitAucOracleSql: String = {
    val core = logitTrainOracleSql.stripSuffix(" ORDER BY doc_id")
    s"""WITH scored AS ($core),
      |uu AS (SELECT CAST(floor(logit * 1e6) AS BIGINT) AS u,
      |              CASE WHEN label = 1.0 THEN 1 ELSE 0 END AS y FROM scored),
      |s AS (SELECT u, CAST(sum(y) AS BIGINT) AS n1,
      |             CAST(sum(1 - y) AS BIGINT) AS n0 FROM uu GROUP BY 1),
      |w AS (SELECT u, n1, n0,
      |             CAST(coalesce(sum(n0) OVER (ORDER BY u
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nbelow
      |      FROM s),
      |t AS (SELECT CAST(sum(n1) AS BIGINT) AS np, CAST(sum(n0) AS BIGINT) AS nn,
      |             CAST(sum(CAST(n1 AS DECIMAL(19,0))
      |                      * CAST(2 * nbelow + n0 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS num
      |      FROM w)
      |SELECT np AS n_pos, nn AS n_neg,
      |       floor(CASE WHEN np > 0 AND nn > 0
      |             THEN CAST(num AS DOUBLE)
      |                  / (2.0 * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))
      |             ELSE 0.0 END * 1000000) / 1000000 AS auc
      |FROM t""".stripMargin
  }

  /** The calibration bins replayed in SQL over the whole descent:
    * fixed-width bins on the floored logit, exact counts, mean logit
    * from integer 1e-6-unit sums. */
  private lazy val logitCalibrationOracleSql: String = {
    val core = logitTrainOracleSql.stripSuffix(" ORDER BY doc_id")
    s"""WITH scored AS ($core),
      |b AS (SELECT CAST(floor(logit * 1024.0) AS BIGINT) AS bin,
      |             CAST(floor(logit * 1e6) AS BIGINT) AS u,
      |             CASE WHEN label = 1.0 THEN 1 ELSE 0 END AS y FROM scored),
      |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(y) AS BIGINT) AS n_pos,
      |             CAST(sum(CAST(u AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS su
      |      FROM b GROUP BY 1)
      |SELECT bin, n, n_pos,
      |       floor(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) * 1000000) / 1000000 AS frac_pos,
      |       floor(CAST(su AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 * 1000000) / 1000000 AS mean_logit
      |FROM g ORDER BY bin""".stripMargin
  }

  /** The priors-only NB ablation replayed in SQL: majority-class
    * baseline (doc-prior argmax, class-asc tie-break) through the same
    * classEval pivot as [[nbEvalOracleSql]]. */
  private lazy val nbPriorsOracleSql: String =
    classEvalPivotSql(
      """WITH lm AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
        |sc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
        |top AS (SELECT lang AS pred FROM lm GROUP BY lang
        |        ORDER BY count(*) DESC, lang LIMIT 1),
        |lab AS (SELECT sc.doc_id, sc.lang AS label, top.pred
        |        FROM sc CROSS JOIN top)""".stripMargin)

  /** The heuristic language id through the same pivot — the third point
    * of the heuristic / trained-NB / priors-only comparison triple. */
  private lazy val langidEvalOracleSql: String =
    classEvalPivotSql(
      """WITH lab AS (SELECT doc_id, lang AS label,
        |  CASE WHEN len(list_intersect(list_distinct(string_split(text, ' ')),
        |         ['the','a','of','and','to','in','is'])) >= 2
        |    THEN 'en' ELSE 'other' END AS pred
        |  FROM documents WHERE doc_id % 2 = 1)""".stripMargin)

  /** DoReMi-shaped EG reweighting replayed in SQL: the whole logit
    * descent as a subquery, per-doc quantized losses joined to domains,
    * one double division for each domain mean, then the unrolled EG
    * steps (m_t = quantized w·exp(η·loss), w_t = m/Σ) over the bounded
    * domain frame. */
  private lazy val doremiOracleSql: String = {
    val core = logitTrainOracleSql.stripSuffix(" ORDER BY doc_id")
    val steps = GraftConf.LogitStepsDefault
    val sb = new StringBuilder
    sb ++= s"""WITH scored AS ($core),
      |l AS (SELECT d.source,
      |        CASE WHEN label = 1.0
      |          THEN CAST(-ln(1.0 / (1.0 + exp(-logit))) AS DECIMAL(18,8))
      |          ELSE CAST(-ln(1.0 - 1.0 / (1.0 + exp(-logit))) AS DECIMAL(18,8))
      |        END AS loss
      |      FROM scored JOIN documents d USING (doc_id)),
      |dl AS (SELECT source, CAST(sum(loss) AS DOUBLE) / count(*) AS ml
      |       FROM l GROUP BY 1),
      |dd AS (SELECT count(*) AS d FROM dl),
      |w0 AS (SELECT source, ml, 1.0 / d AS w FROM dl CROSS JOIN dd)""".stripMargin
    for (s <- 1 to steps) {
      sb ++= s""",
        |m$s AS (SELECT source, ml,
        |          CAST(w * exp(1.0 * ml) AS DECIMAL(18,8)) AS m FROM w${s - 1}),
        |t$s AS (SELECT sum(m) AS t FROM m$s),
        |w$s AS (SELECT source, ml, CAST(m AS DOUBLE) / CAST(t AS DOUBLE) AS w
        |        FROM m$s CROSS JOIN t$s)""".stripMargin
    }
    sb ++= s"""
      |SELECT source, floor(ml * 1000000) / 1000000 AS mean_loss,
      |       floor(w * 1000000) / 1000000 AS weight
      |FROM w$steps ORDER BY source""".stripMargin
    sb.toString
  }

  /** The preference-pair construction replayed in SQL: single-window
    * per-group ranks (the two-phase engine rank's spec-pinned equal);
    * i-th best joins i-th worst on (source, i), strict inequality drops
    * equal/self/reflected pairs. Shared by g_pref_pairs (batch) and
    * q_stream_pref (the streamed periodic re-pair). */
  private lazy val prefPairsOracleSql: String =
    """WITH s AS (SELECT doc_id, source,
        |        CAST(floor(least(greatest(
        |          least(len(string_split(text, ' ')) / 64.0, 1.0) * 0.4 +
        |          (len(list_distinct(string_split(text, ' '))) /
        |           CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.4 +
        |          (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) /
        |                 CAST(length(text) AS DOUBLE)) * 0.2,
        |          0.0), 1.0) * 10000) AS BIGINT) AS score
        |      FROM documents),
        |r AS (SELECT doc_id, source, score,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY score, doc_id)
        |             AS BIGINT) - 1 AS rank,
        |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |      FROM s),
        |c AS (SELECT source, n - rank AS i, doc_id AS chosen_id,
        |             score AS chosen_score FROM r),
        |j AS (SELECT source, rank + 1 AS i, doc_id AS rejected_id,
        |             score AS rejected_score FROM r)
        |SELECT c.source, CAST(c.i AS BIGINT) AS pair_rank,
        |       chosen_id, chosen_score, rejected_id, rejected_score
        |FROM c JOIN j ON c.source = j.source AND c.i = j.i
        |WHERE chosen_score > rejected_score
        |ORDER BY c.source, pair_rank""".stripMargin

  /** The NB train→evaluate loop replayed in SQL: the whole
    * [[nbLangidOracleSql]] pipeline as a subquery, labels joined back,
    * reduced to per-class one-vs-rest confusion counts,
    * precision/recall/F1 (single-division 6-digit-floored forms) and
    * the macro-F1 (floored-F1 mean over exact decimals). */
  private lazy val nbEvalOracleSql: String =
    classEvalPivotSql(s"""WITH nb AS (${nbLangidOracleSql.stripSuffix(" ORDER BY doc_id")}),
      |lab AS (SELECT nb.doc_id, d.lang AS label, nb.pred
      |        FROM nb JOIN documents d USING (doc_id))""".stripMargin)

  /** The shared classEval pivot tail ([[graft.operators.TextOps.classEval]]
    * in SQL): per-class one-vs-rest confusion over the label ∪ pred
    * class list, P/R/F1 single-division floored, macro-F1 over exact
    * decimals — appended to a WITH-prefix that defines
    * `lab(doc_id, label, pred)`. */
  private def classEvalPivotSql(labPrefix: String): String =
    s"""$labPrefix,
      |cl AS (SELECT DISTINCT label AS class FROM lab
      |       UNION SELECT DISTINCT pred FROM lab),
      |base AS (SELECT class,
      |  CAST(sum(CASE WHEN label = class AND pred = class THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(sum(CASE WHEN label <> class AND pred = class THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(sum(CASE WHEN label = class AND pred <> class THEN 1 ELSE 0 END) AS BIGINT) AS fn
      |  FROM lab CROSS JOIN cl GROUP BY class),
      |prf AS (SELECT class, tp, fp, fn,
      |  floor(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp)
      |        ELSE 0.0 END * 1000000) / 1000000 AS precision_,
      |  floor(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn)
      |        ELSE 0.0 END * 1000000) / 1000000 AS recall_,
      |  floor(CASE WHEN 2 * tp + fp + fn > 0
      |        THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
      |        ELSE 0.0 END * 1000000) / 1000000 AS f1
      |  FROM base),
      |mac AS (SELECT floor(CAST(sum(CAST(f1 AS DECIMAL(18,6))) AS DOUBLE)
      |               / count(*) * 1000000) / 1000000 AS macro_f1 FROM prf)
      |SELECT class, tp, fp, fn, precision_, recall_, f1, macro_f1
      |FROM prf CROSS JOIN mac ORDER BY class""".stripMargin

  /** Interpolated Kneser–Ney TRIGRAM scoring replayed in SQL — shared by
    * g_kn3_score and q_stream_kn3. Mirrors
    * [[graft.operators.TextOps.kn3Score]] expression-for-expression,
    * with the p2 (bigram-continuation) level computed as its own column
    * before the trigram level consumes it — the same two-stage shape as
    * the Spark plan. */
  private lazy val kn3ScoreOracleSql: String =
    s"""WITH lm AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
      |sc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
      |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
      |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM lm) GROUP BY 1),
      |vocab AS (SELECT w FROM uni WHERE c >= ${GraftConf.KnMinCountDefault}),
      |lmt AS (SELECT doc_id, string_split(text, ' ') AS ts FROM lm),
      |lmtris AS (
      |  SELECT CASE WHEN v1.w IS NULL THEN '<unk>' ELSE tr[1] END AS w1,
      |         CASE WHEN v2.w IS NULL THEN '<unk>' ELSE tr[2] END AS w2,
      |         CASE WHEN v3.w IS NULL THEN '<unk>' ELSE tr[3] END AS w3
      |  FROM (SELECT unnest(list_transform(range(1, len(ts) - 1),
      |                 i -> [ts[i], ts[i + 1], ts[i + 2]])) AS tr
      |        FROM lmt) p
      |  LEFT JOIN vocab v1 ON v1.w = tr[1]
      |  LEFT JOIN vocab v2 ON v2.w = tr[2]
      |  LEFT JOIN vocab v3 ON v3.w = tr[3]),
      |c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
      |       FROM lmtris GROUP BY 1, 2, 3),
      |ctx3 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS ctx3,
      |                CAST(count(*) AS BIGINT) AS n1f3 FROM c3 GROUP BY 1, 2),
      |t AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS t FROM c3 GROUP BY 1, 2),
      |ctx2c AS (SELECT w2, CAST(sum(t) AS BIGINT) AS ctx2c,
      |                 CAST(count(*) AS BIGINT) AS n1f2c FROM t GROUP BY 1),
      |pred AS (SELECT w3, CAST(count(*) AS BIGINT) AS n1b FROM t GROUP BY 1),
      |btot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM t),
      |sct AS (SELECT doc_id, string_split(text, ' ') AS ts FROM sc),
      |sctris AS (
      |  SELECT doc_id,
      |         CASE WHEN v1.w IS NULL THEN '<unk>' ELSE tr[1] END AS w1,
      |         CASE WHEN v2.w IS NULL THEN '<unk>' ELSE tr[2] END AS w2,
      |         CASE WHEN v3.w IS NULL THEN '<unk>' ELSE tr[3] END AS w3
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(ts) - 1),
      |            i -> [ts[i], ts[i + 1], ts[i + 2]])) AS tr
      |        FROM sct) p
      |  LEFT JOIN vocab v1 ON v1.w = tr[1]
      |  LEFT JOIN vocab v2 ON v2.w = tr[2]
      |  LEFT JOIN vocab v3 ON v3.w = tr[3]),
      |dp AS (SELECT doc_id, w1, w2, w3, CAST(count(*) AS BIGINT) AS cnt
      |       FROM sctris GROUP BY 1, 2, 3, 4),
      |s1 AS (
      |  SELECT doc_id, cnt, c3, ctx3, n1f3,
      |    CASE WHEN coalesce(ctx2c, 0) > 0
      |      THEN (greatest(CAST(coalesce(t, 0) AS DOUBLE) - 0.75, 0.0)
      |            + 0.75 * CAST(coalesce(n1f2c, 0) AS DOUBLE)
      |                   * (CAST(greatest(coalesce(n1b, 0), 1) AS DOUBLE)
      |                      / CAST(b AS DOUBLE)))
      |           / CAST(ctx2c AS DOUBLE)
      |      ELSE CAST(greatest(coalesce(n1b, 0), 1) AS DOUBLE) / CAST(b AS DOUBLE)
      |    END AS p2
      |  FROM dp LEFT JOIN c3 USING (w1, w2, w3) LEFT JOIN ctx3 USING (w1, w2)
      |          LEFT JOIN t USING (w2, w3) LEFT JOIN ctx2c USING (w2)
      |          LEFT JOIN pred USING (w3) CROSS JOIN btot),
      |scored AS (
      |  SELECT doc_id, cnt,
      |    CASE WHEN coalesce(ctx3, 0) > 0
      |      THEN (greatest(CAST(coalesce(c3, 0) AS DOUBLE) - 0.75, 0.0)
      |            + 0.75 * CAST(coalesce(n1f3, 0) AS DOUBLE) * p2)
      |           / CAST(ctx3 AS DOUBLE)
      |      ELSE p2
      |    END AS p
      |  FROM s1)
      |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
      |       floor((CAST(sum(CAST(ln(p) AS DECIMAL(18,8)) * cnt) AS DOUBLE)
      |              / sum(cnt)) * 10000) / 10000 AS avg_logprob
      |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The CCNet composition replayed in SQL: the whole
    * [[kn3ScoreOracleSql]] LM-scoring pipeline as a subquery, then the
    * per-domain top-keepFrac cut in the single-window formulation the
    * salted [[graft.operators.CurationOps.scoreQuantileFilter]] provably
    * reproduces (the g_quality_quantile oracle pattern). */
  private lazy val ccnetPipelineOracleSql: String = {
    val core = kn3ScoreOracleSql.stripSuffix(" ORDER BY doc_id")
    s"""WITH sc3 AS ($core),
      |sjoin AS (SELECT sc3.doc_id, d.source, sc3.avg_logprob
      |          FROM sc3 JOIN documents d USING (doc_id)),
      |c AS (SELECT source, CAST(ceil(0.5 * CAST(count(*) AS DOUBLE)) AS BIGINT) AS quota
      |      FROM sjoin GROUP BY source),
      |r AS (SELECT sjoin.doc_id, sjoin.source, sjoin.avg_logprob,
      |             CAST(row_number() OVER (
      |               PARTITION BY sjoin.source
      |               ORDER BY sjoin.avg_logprob DESC, sjoin.doc_id) AS INT) AS rank,
      |             c.quota
      |      FROM sjoin JOIN c USING (source))
      |SELECT doc_id, source, avg_logprob, rank FROM r WHERE rank <= quota
      |ORDER BY doc_id""".stripMargin
  }

  /** The CCNet head/middle/tail split replayed in SQL: the
    * [[kn3ScoreOracleSql]] pipeline as a subquery, scores quantized to
    * integer 1e-4 units (the 4-digit floor's own grid — lossless),
    * shifted non-negative by the corpus minimum, then per-source
    * equal-size-by-rank THIRDS in the single-window formulation the
    * two-phase [[graft.operators.CurationOps.rankBucketsByGroup]] is
    * spec-pinned to equal. */
  private lazy val ccnetBucketsOracleSql: String = {
    val core = kn3ScoreOracleSql.stripSuffix(" ORDER BY doc_id")
    s"""WITH sc3 AS ($core),
      |sj AS (SELECT sc3.doc_id, d.source,
      |              CAST(floor(sc3.avg_logprob * 1e4) AS BIGINT) AS u
      |       FROM sc3 JOIN documents d USING (doc_id)),
      |m AS (SELECT min(u) AS mu FROM sj),
      |s AS (SELECT doc_id, source, u - mu AS score FROM sj CROSS JOIN m),
      |r AS (SELECT doc_id, source, score,
      |        CAST(row_number() OVER (PARTITION BY source ORDER BY score, doc_id)
      |             AS BIGINT) - 1 AS rank,
      |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |      FROM s)
      |SELECT source, doc_id, score, CAST((rank * 3) // n AS BIGINT) AS bucket, rank
      |FROM r ORDER BY doc_id""".stripMargin
  }

  /** Shared by g_dedup_clusters, g_dedup_cc_star and g_dedup_cc_incr. */
  private lazy val oracleSqlDedupClusters: String =
    s"""WITH RECURSIVE ${shingleReachCtesSql("documents")}
      |SELECT a AS doc_id, min(b) AS cluster_id
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** ±1.0 hyperplane-sign list literal for the g_embed_neardup oracle: the
    * identical XXH64 arithmetic as VectorFns.rhpBucket (seed 42,
    * hash(plane) feeding hash(componentIdx)), evaluated at SQL-construction
    * time so DuckDB recomputes the same LSH buckets from inline literals —
    * the planes are deterministic shared state, not model weights. */
  private def rhpSignsSql(plane: Int, dim: Int): String = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val planeSeed = XXH64.hashInt(plane, 42L)
    (0 until dim).map { j =>
      val h = XXH64.hashInt(j, planeSeed)
      if (((h % 2) + 2) % 2 == 1) "1.0" else "-1.0"
    }.mkString("[", ", ", "]")
  }

  /** Full replay of [[SimilarityOps.mmrSelect]] (k=5, pool=40, λ=7/10):
    * the relevance pool cut, then each greedy pick as an unrolled CTE —
    * candidates = pool minus selected, penalty = max fixed-point cosine
    * against any selected row, argmax of `7·rel − 3·max_sim` with ties to
    * the smallest id. All scores are exact integers, so every argmax is
    * engine-reproducible. */
  private def fpCosPpmSql(a: String, b: String): String =
    s"CAST(floor((list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * " +
      s"sqrt(list_dot_product($b, $b)))) * 1000000) AS BIGINT)"

  /** The s1..sel5 greedy-pick CTE chain over an existing
    * `pool(vec_id, v, rel)` — shared by [[mmrOracleSql]] (rel = query
    * cosine) and [[serveOracleSql]] (rel = MaxSim over IVF candidates). */
  private def mmrPickCtesSql: String = {
    val picks = (2 to 5).map { i =>
      s"""c$i AS (
         |  SELECT p.vec_id, p.rel, max(${fpCosPpmSql("p.v", "s.v")}) AS ms, first(p.v) AS v
         |  FROM pool p CROSS JOIN sel${i - 1} s
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  GROUP BY p.vec_id, p.rel),
         |s$i AS (SELECT vec_id, v, $i AS pick, 7 * rel - 3 * ms AS mmr FROM c$i
         |        ORDER BY mmr DESC, vec_id LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""s1 AS (SELECT vec_id, v, 1 AS pick, 7 * rel AS mmr FROM pool
       |       ORDER BY rel DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT * FROM s1),
       |$picks""".stripMargin
  }

  private lazy val mmrOracleSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
       |rel AS (SELECT vec_id, v, ${fpCosPpmSql("v.v", "qv")} AS rel FROM v, q),
       |pool AS (SELECT vec_id, v, rel FROM rel ORDER BY rel DESC, vec_id LIMIT 40),
       |$mmrPickCtesSql
       |SELECT vec_id, pick, mmr FROM sel5 ORDER BY pick""".stripMargin

  /** Full replay of the composed serving pipeline (g_serve_pipeline):
    * IVF candidate routing (fixture-centroid cell argmax, probe-2 IN
    * filter) → MaxSim late-interaction scoring of the candidates (the
    * g_maxsim 8×8 replay, integers) → top-20 pool by (maxsim, id) → the
    * 5-pick MMR chain with rel = maxsim and the floored-cosine penalty.
    * Every stage is exact integer math or a replayed argmax — the whole
    * stack is hash-gated with no tolerance. */
  private lazy val serveOracleSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
       |cz AS (SELECT vec_id, v,
       |    ${fixtureCosSql("v", "cc_")},
       |    ${fixtureCellSql("cc_")} AS cell
       |  FROM v),
       |qcs AS (SELECT ${fixtureCosSql("qv", "qc_")} FROM q),
       |$fixtureProbeCteSql,
       |cand AS (SELECT vec_id, v FROM cz WHERE cell IN (SELECT cid FROM probe)),
       |pair AS (
       |  SELECT d.vec_id, ti.i,
       |    CASE WHEN list_dot_product(list_slice(qv, i*8+1, (i+1)*8),
       |                               list_slice(qv, i*8+1, (i+1)*8)) = 0
       |           OR list_dot_product(list_slice(d.v, j*8+1, (j+1)*8),
       |                               list_slice(d.v, j*8+1, (j+1)*8)) = 0
       |         THEN 0
       |         ELSE CAST(floor((list_dot_product(list_slice(qv, i*8+1, (i+1)*8),
       |                                           list_slice(d.v, j*8+1, (j+1)*8)) /
       |              (sqrt(list_dot_product(list_slice(qv, i*8+1, (i+1)*8),
       |                                     list_slice(qv, i*8+1, (i+1)*8))) *
       |               sqrt(list_dot_product(list_slice(d.v, j*8+1, (j+1)*8),
       |                                     list_slice(d.v, j*8+1, (j+1)*8))))) * 1000000) AS BIGINT)
       |    END AS s
       |  FROM cand d, q, range(0, 8) ti(i), range(0, 8) tj(j)),
       |mx AS (SELECT vec_id, i, max(s) AS ms FROM pair GROUP BY vec_id, i),
       |tot AS (SELECT vec_id, CAST(sum(ms) AS BIGINT) AS rel FROM mx GROUP BY vec_id),
       |pool AS (SELECT t.vec_id, w.v, t.rel FROM tot t JOIN v w ON w.vec_id = t.vec_id
       |         ORDER BY t.rel DESC, t.vec_id LIMIT 20),
       |$mmrPickCtesSql
       |SELECT vec_id, pick, mmr FROM sel5 ORDER BY pick""".stripMargin

  /** DuckDB expressions for the shared logit feature template — ONE
    * list, asserted against [[graft.operators.TextOps.LogitXCols]], so
    * the unrolled-CTE replay scales with d: adding a feature means one
    * Spark column in [[graft.operators.TextOps.logitFeatures]] plus one
    * entry here, and every logit oracle (train, eval, stream twin)
    * regenerates. Each is a ratio of exact integer counts (or an exact
    * count scaled by a constant) — bit-identical doubles cross-engine. */
  private lazy val logitFeatureSql: Seq[(String, String)] = {
    val stops = graft.operators.TextOps.EnStopwords.map(s => s"'$s'").mkString(", ")
    val nTok = "len(string_split(text, ' '))"
    val fs = Seq(
      "x0" -> "CAST(1.0 AS DOUBLE)",
      "x1" -> (s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE)"
        + s" / $nTok"),
      "x2" -> s"CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / $nTok",
      "x3" -> "n_chars / 1000.0",
      "x4" -> ("length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))"
        + " / CAST(greatest(length(text), 1) AS DOUBLE)"),
      "x5" -> s"((length(text) - ($nTok - 1)) / CAST($nTok AS DOUBLE)) / 10.0",
      "x6" -> ("length(regexp_replace(text, '[^A-Z]', '', 'g'))"
        + " / CAST(greatest(length(text), 1) AS DOUBLE)"))
    require(fs.map(_._1) == graft.operators.TextOps.LogitXCols,
      "logit oracle feature list drifted from TextOps.LogitXCols")
    fs
  }

  /** Shared unrolled-CTE generator for the full-batch GD family: one CTE
    * pair per step (g_s = the exact-integer gradient sums over
    * `x · (μ(z) − y)`, w_s = the updated unit weights), parameterized by
    * the label expression and the mean function μ — exactly
    * [[graft.operators.TextOps]]' `gdDescend` seam, SQL side. */
  private def descentOracleSql(ySql: String, muOf: String => String): String = {
    val xs = logitFeatureSql.map(_._1)
    s"""WITH f AS (SELECT doc_id,
      |  $ySql AS y,
      |  ${logitFeatureSql.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")}
      |FROM documents)""".stripMargin + descentLoopSql(xs, muOf)
  }

  /** Just the weight-update CTE chain of the unrolled-CTE GD replay
    * (`,w0 AS ... ,gS/wS AS ...` over an already-defined feature CTE
    * `f(doc_id, y, xs...)`; the final weights live in `w<steps>` as
    * integer 1e-8 units `u0..`) — split out of [[descentLoopSql]] so a
    * consumer can score a DIFFERENT frame with the trained weights (the
    * Bradley–Terry reward ranker scores every document with weights
    * fitted on the pairwise diffs). */
  private def descentStepsSql(xs: Seq[String], muOf: String => String): String = {
    val steps = GraftConf.LogitStepsDefault
    def z(u: Int => String): String =
      xs.zipWithIndex.map { case (x, j) => s"(${u(j)} * 1e-8) * $x" }.mkString(" + ")
    val sb = new StringBuilder
    sb ++= s""",
      |w0 AS (SELECT ${xs.indices.map(j => s"CAST(0 AS BIGINT) AS u$j").mkString(", ")})"""
      .stripMargin
    for (s <- 1 to steps) {
      val zz = z(j => s"u$j")
      sb ++= s""",
        |g$s AS (SELECT ${xs.zipWithIndex.map { case (x, j) =>
          s"sum(CAST(floor($x * (${muOf(zz)} - y) * 1e8) AS DECIMAL(38,0))) AS g$j"
        }.mkString(", ")}
        |  FROM f CROSS JOIN w${s - 1}),
        |w$s AS (SELECT ${xs.indices.map(j =>
          s"u$j - CAST(floor(CAST(g$j AS DOUBLE) / 4096.0) AS BIGINT) AS u$j").mkString(", ")}
        |  FROM w${s - 1} CROSS JOIN g$s)""".stripMargin
    }
    sb.toString
  }

  /** The descent loop + final scoring of the unrolled-CTE GD replay,
    * over an ALREADY-DEFINED feature CTE `f(doc_id, y, xs...)` — shared
    * by [[descentOracleSql]] (features from `documents`) and the Platt
    * calibrator (features from another descent's scores). */
  private def descentLoopSql(xs: Seq[String], muOf: String => String): String = {
    val steps = GraftConf.LogitStepsDefault
    def z(u: Int => String): String =
      xs.zipWithIndex.map { case (x, j) => s"(${u(j)} * 1e-8) * $x" }.mkString(" + ")
    descentStepsSql(xs, muOf) + s"""
      |SELECT doc_id, y AS label,
      |       floor((${z(j => s"u$j")}) * 1000000) / 1000000 AS logit
      |FROM f CROSS JOIN w$steps ORDER BY doc_id""".stripMargin
  }

  private lazy val bm25OracleSql: String =
    s"""WITH $bm25ScoreCtesSql
       |SELECT doc_id, n_terms, bm25 FROM sc
       |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  /** Replay of [[graft.operators.RetrievalOps.hybridTopK]]: the BM25 arm
    * (top-30, ranks by the same total order), the exact floored-cosine
    * arm, and the RRF fold — each arm's reciprocal 1/(60+rank) quantized
    * to DECIMAL(18,8) before the exact sum, floored at 6 digits. */
  private lazy val hybridOracleSql: String = {
    val rc = "CAST(1.0 / (60.0 + CAST(rank AS DOUBLE)) AS DECIMAL(18,8))"
    s"""WITH $bm25ScoreCtesSql,
       |lex AS (SELECT doc_id AS id,
       |               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
       |        FROM sc ORDER BY bm25 DESC, doc_id LIMIT 30),
       |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
       |sim AS (SELECT vec_id,
       |               floor((list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
       |                     (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                                            CAST(embedding AS DOUBLE[]))) *
       |                      sqrt(list_dot_product(qv, qv)))) * 10000) / 10000 AS sim
       |        FROM embeddings, q),
       |vec AS (SELECT vec_id AS id,
       |               CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank
       |        FROM sim ORDER BY sim DESC, vec_id LIMIT 30),
       |u AS (SELECT id, $rc AS c FROM lex
       |      UNION ALL SELECT id, $rc AS c FROM vec)
       |SELECT id, CAST(count(*) AS BIGINT) AS n_arms,
       |       floor(CAST(sum(c) AS DOUBLE) * 1000000) / 1000000 AS rrf
       |FROM u GROUP BY id ORDER BY rrf DESC, id LIMIT 10""".stripMargin
  }

  /** The fixed-point Lloyd-step oracle, shared by g_kmeans_step (batch)
    * and q_stream_kmeans (single-batch streaming degenerate case). */
  private lazy val kmeansStepOracleSql: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (
       |  SELECT vec_id, v,
       |    ${fixtureCosSql("v", "c")}
       |  FROM v),
       |b AS (SELECT vec_id, v, ${fixtureCellSql("c")} AS cell FROM c),
       |e AS (
       |  SELECT cell, u.dim AS dim, u.x AS x
       |  FROM (SELECT cell,
       |          unnest(list_transform(range(len(v)), i -> {'dim': i, 'x': v[i+1]})) AS u
       |        FROM b))
       |SELECT cell, dim,
       |       CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS DOUBLE)
       |         / (1000000.0 * count(*)) AS mean_x,
       |       count(*) AS n_vecs
       |FROM e GROUP BY cell, dim ORDER BY cell, dim""".stripMargin

  val rows: Seq[QueryDef] = Seq(

    // ---- §G. training-data pipeline operators ------------------------
    QueryDef("g_curation",
      """WITH keep AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
        |curated AS (
        |  SELECT d.*, CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens
        |  FROM documents d JOIN keep k ON d.doc_id = k.doc_id
        |  WHERE len(string_split(d.text, ' ')) BETWEEN 20 AND 200
        |    AND d.n_chars >= 100 AND d.lang IN ('en', 'de', 'fr'))
        |SELECT lang, source, count(*) AS n_kept,
        |       CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE) / count(*) AS avg_tokens,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM curated GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, dir) =>
      // composed curation pipeline: dedup ->
      // quality gate -> language gate -> per-source yield report
      val docs = Tables.documents(s, dir)
      val keep = docs.groupBy(sha2(col("text"), 256).as("sha"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val curated = docs
        .join(keep, Seq("doc_id"), "left_semi") // exact-dedup survivors
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .filter(col("n_tokens").between(20, 200) && col("n_chars") >= 100)
        .filter(col("lang").isin("en", "de", "fr"))
      curated.groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_kept"),
          (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("source"))
    },

    QueryDef("q_funnel",
      """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS signup_us
        |           FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT user_id, min(epoch_us(ts)) AS purchase_us
        |      FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT s.user_id, s.signup_us,
        |       coalesce(CASE WHEN p.purchase_us > s.signup_us THEN p.purchase_us END, 0) AS converted_us
        |FROM s LEFT JOIN p ON s.user_id = p.user_id
        |ORDER BY s.user_id""".stripMargin) { (s, dir) => // behavioral funnel: signup -> purchase
      val ev = Tables.events(s, dir)
      val first = (et: String, out: String) => ev.filter(col("event_type") === et)
        .groupBy(col("user_id")).agg(min(col("ts_us")).as(out))
      first("signup", "signup_us")
        .join(first("purchase", "purchase_us"), Seq("user_id"), "left")
        .select(col("user_id"), col("signup_us"),
          // 0 = not converted: keep the output column non-null — null vs
          // NaN round-trips differently through arrow/pandas comparisons
          coalesce(when(col("purchase_us") > col("signup_us"), col("purchase_us")),
            lit(0L)).as("converted_us"))
        .orderBy(col("user_id"))
    },

    QueryDef("g_embed_pairs",
      """SELECT a.label, a.vec_id AS id1, b.vec_id AS id2,
        |       floor((list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |              (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |               sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))) * 10000) / 10000 AS sim
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |      (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |       sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.3
        |ORDER BY id1, id2""".stripMargin) { (s, dir) => // exact cosine pairs within label blocks
      graft.plans.GraftFunctions.register(s)
      val e = Tables.embeddings(s, dir)
        .select(col("label"), col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val a = e.select(col("label"), col("vec_id").as("id1"), col("v").as("v1"))
      val b = e.select(col("label"), col("vec_id").as("id2"), col("v").as("v2"))
      a.join(b, Seq("label")).filter(col("id1") < col("id2"))
        .withColumn("raw", graft.plans.GraftFunctions.cosine(col("v1"), col("v2")))
        .filter(col("raw") >= 0.3)
        .select(col("label"), col("id1"), col("id2"),
          graft.functions.NumFns.floorAt(col("raw"), 4).as("sim"))
        .orderBy(col("id1"), col("id2"))
    },

    QueryDef("g_embed_neardup",
      // independent recomputation of the full LSH near-dup pipeline: bucket
      // = sign bits against the inlined ±1 hyperplanes (same XXH64-derived
      // planes as VectorFns.rhpBucket, dim 64), then exact cosine within
      // bucket — both sides sequential-left-fold doubles, so parity is
      // bit-exact up to the shared floor-at-4 rounding
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (
         |  SELECT vec_id, v,
         |    (CASE WHEN list_dot_product(v, ${rhpSignsSql(0, 64)}) >= 0 THEN 1 ELSE 0 END)
         |  + (CASE WHEN list_dot_product(v, ${rhpSignsSql(1, 64)}) >= 0 THEN 2 ELSE 0 END)
         |  + (CASE WHEN list_dot_product(v, ${rhpSignsSql(2, 64)}) >= 0 THEN 4 ELSE 0 END) AS bucket
         |  FROM v)
         |SELECT a.vec_id AS id1, c.vec_id AS id2,
         |       floor((list_dot_product(a.v, c.v) /
         |             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v)))) * 10000) / 10000 AS sim
         |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |WHERE floor((list_dot_product(a.v, c.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v)))) * 10000) / 10000 >= 0.35
         |ORDER BY id1, id2""".stripMargin) { (s, dir) => // cosine near-dups in LSH buckets,
      // oracle-gated: the hyperplane signs are deterministic XXH64
      // arithmetic, inlined as ±1.0 literals into the DuckDB oracle at
      // SQL-construction time, so bucket assignment AND in-bucket cosine
      // are recomputed independently. testdata embeddings max pairwise
      // cosine ~0.51 at sf0.01: a "near-dup" threshold of 0.35 with 3
      // hyperplanes keeps candidate recall high enough to emit rows
      SimilarityOps.embeddingNearDups(Tables.embeddings(s, dir), threshold = 0.35, nPlanes = 3)
        .orderBy(col("id1"), col("id2"))
    },

    QueryDef("g_dedup_exact",
      """SELECT sha256(text) AS content_sha, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin) { (s, dir) =>
      // exact dedup by content hash
      DedupOps.exact(Tables.documents(s, dir)).orderBy(col("keep_id"))
    },

    QueryDef("g_dedup_jaccard",
      """WITH base AS (
        |  SELECT doc_id, lang, floor(n_chars / 8) AS len_bucket,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |       floor((len(list_intersect(a.toks, b.toks)) /
        |             (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))) * 10000) / 10000 AS jaccard
        |FROM base a JOIN base b
        |  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
        |ORDER BY id1, id2""".stripMargin) { (s, dir) => // blocked exact token-set Jaccard
      DedupOps.ngramJaccardPairs(Tables.documents(s, dir), blockWidth = 8, threshold = 0.5)
        .orderBy(col("id1"), col("id2"))
    },

    QueryDef("g_dedup_edit",
      // same blocking, unthresholded levenshtein recomputation (for pairs
      // within the radius the thresholded kernel returns the true
      // distance, so the lists agree exactly)
      """WITH base AS (
        |  SELECT doc_id, lang, floor(n_chars / 8) AS len_bucket, text
        |  FROM documents)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |       CAST(levenshtein(a.text, b.text) AS INT) AS dist
        |FROM base a JOIN base b
        |  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 20
        |ORDER BY id1, id2""".stripMargin) { (s, dir) => // fuzzy dedup by thresholded edit
      // distance within (lang, length-band) blocks — the character-level
      // near-dup flavor (in-word typos); banded early-abandon DP bounds
      // per-pair cost by the radius, not len^2
      DedupOps.editDistancePairs(Tables.documents(s, dir), blockWidth = 8, maxDist = 20)
        .orderBy(col("id1"), col("id2"))
    },

    QueryDef("g_dedup_minhash",
      // exact 3-gram-shingle Jaccard over ALL pairs — green hash certifies
      // LSH recall 1.0 + rescore precision 1.0 on this corpus
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS toks
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |       floor((len(list_intersect(a.toks, b.toks)) /
        |             (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))) * 10000) / 10000 AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5
        |ORDER BY id1, id2""".stripMargin) { (s, dir) => // MinHash-LSH near-dups, oracle-gated:
      // the DuckDB oracle computes exact 3-gram-shingle Jaccard over ALL
      // pairs; a green hash certifies LSH recall@threshold == 1.0 on this
      // corpus (true near-dups have shingle-jaccard ~1, so every band
      // collides) AND rescore precision == 1.0 (by construction). Measured
      // 28/28 (sf0.001) and 25/25 (sf0.01) — see tools/RecallTune.
      DedupOps.minHashNearDups(Tables.documents(s, dir), threshold = 0.5)
        .orderBy(col("id1"), col("id2"))
    },

    QueryDef("g_dedup_incremental",
      // exact cross-split shingle Jaccard: increment (doc_id % 5 = 0)
      // against corpus (the rest)
      oracleSqlDedupIncremental) { (s, dir) => // increment-vs-corpus near-dups:
      // the daily-batch shape — the new slice band-joins the existing
      // corpus' LSH index, the corpus never self-joins or re-clusters.
      // Oracle = exact cross-split shingle Jaccard (same recall-1.0 regime
      // g_dedup_minhash certifies for these banding parameters).
      val docs = Tables.documents(s, dir)
      DedupOps.minHashNearDupsAgainst(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0), threshold = 0.5)
        .orderBy(col("new_id"), col("corpus_id"))
    },

    QueryDef("g_dedup_indexed",
      // identical truth to g_dedup_incremental: the persisted index is a
      // materialization of the corpus band keys, not a semantic change
      oracleSqlDedupIncremental) { (s, dir) => // the persisted-LSH-index shape:
      // the corpus' band signatures are written once, partitionBy(band,
      // bucket); the increment joins the INDEX (the corpus text is only
      // touched for candidate rescore), and the join's partition-column
      // keys let dynamic partition pruning skip untouched directories.
      // Must equal g_dedup_incremental's truth exactly — same oracle.
      // nBuckets sized to the SF (16 -> 64 directories here; a 100 TB
      // corpus would keep the 64-bucket default = 256 directories)
      val docs = Tables.documents(s, dir)
      val out = scratchDir("mh_index")
      val path = s"$out/mhidx"
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      DedupOps.writeMinHashIndex(corpus, path, nBuckets = 16)
      DedupOps.minHashNearDupsIndexed(
          docs.filter(col("doc_id") % 5 === 0), corpus, path, nBuckets = 16, threshold = 0.5)
        .orderBy(col("new_id"), col("corpus_id"))
    },

    QueryDef("g_dedup_incremental_exact",
      // text equality stands in for the digest join (no SHA-256 collision
      // at any plausible corpus size)
      oracleSqlDedupIncrementalExact) { (s, dir) => // exact incremental dedup:
      // every increment doc annotated with its corpus copy count + first
      // copy id (null = novel); the join ships 32-byte content digests,
      // not text
      val docs = Tables.documents(s, dir)
      DedupOps.incrementalExact(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0))
        .orderBy(col("new_id"))
    },

    QueryDef("g_dedup_bloom",
      // identical truth to g_dedup_incremental_exact: the Bloom prefilter
      // is exact once the confirm join removes false positives (and no
      // false negative can exist)
      oracleSqlDedupIncrementalExact) { (s, dir) => // the broadcast Bloom-prefiltered
      // variant: sketch rejections take n_corpus_copies = 0 map-only, only
      // sketch hits confirm against the corpus digests — false positives
      // are removed by the confirm join, false negatives cannot exist, so
      // the output is row-identical to g_dedup_incremental_exact (and the
      // oracle is the same SQL). Tiny sketch (forced FPs at this corpus
      // size) so BOTH paths carry rows at every sf.
      val docs = Tables.documents(s, dir)
      DedupOps.incrementalExactBloom(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0),
          expectedItems = 1L << 10, fpp = 0.05)
        .orderBy(col("new_id"))
    },

    QueryDef("g_embed_neardup_recall",
      ("SELECT CAST(0.35 AS DOUBLE) AS threshold, true AS precision_exact, " +
        "CAST(0.2 AS DOUBLE) AS recall_floor, true AS meets_floor")) { (s, dir) =>
      // the LSH-bucketed embedding
      // near-dup gate: precision is exact by construction (in-bucket pairs
      // are rescored with true cosine), recall vs the exact all-pairs truth
      // is floored at 0.2 — random synthetic vectors are LSH's worst case
      // (measured 0.26 at both sfs; clustered real embeddings do far
      // better). Both sides computed in Spark; the oracle row asserts the
      // invariants.
      graft.plans.GraftFunctions.register(s)
      val e = Tables.embeddings(s, dir)
      val ev = e.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
      val exact = ev.select(col("id").as("id1"), col("v").as("v1"))
        .join(ev.select(col("id").as("id2"), col("v").as("v2")), col("id1") < col("id2"))
        .filter(graft.plans.GraftFunctions.cosine(col("v1"), col("v2")) >= 0.35)
        .select("id1", "id2")
      val lsh = SimilarityOps.embeddingNearDups(e, threshold = 0.35, nPlanes = 3)
        .select("id1", "id2")
      exact.withColumn("hit", lit(1L))
        .join(lsh.withColumn("found", lit(1L)), Seq("id1", "id2"), "full_outer")
        .agg(
          sum(when(col("found") === 1L && col("hit").isNull, 1L).otherwise(0L)).as("false_pos"),
          (sum(when(col("found") === 1L && col("hit") === 1L, 1L).otherwise(0L)) /
            sum(col("hit"))).as("recall"))
        .select(lit(0.35).as("threshold"),
          (col("false_pos") === 0L).as("precision_exact"),
          lit(0.2).as("recall_floor"),
          (col("recall") >= 0.2).as("meets_floor"))
    },

    QueryDef("g_sketch_topk",
      // exact recount: the sketch must equal true counts while the
      // vocabulary fits its slots; deterministic tie-break (count desc,
      // token asc) on both sides
      oracleSqlSketchTopK) { (s, dir) => // heavy-hitter tokens via the
      // approx_top_k sketch, oracle-gated EXACTLY: with the vocabulary
      // inside the tracked-slot budget the sketch provably matches exact
      // counts (certified by the hash gate); at 100 TB vocab the same
      // fixed-size state gives guaranteed-error heavy hitters while the
      // exact path must shuffle every distinct token.
      TextOps.tokenHeavyHitters(Tables.documents(s, dir), k = 10)
    },

    QueryDef("g_sketch_quantiles",
      // the rank-contract booleans must hold for any correct quantile
      // sketch at this accuracy; sizes pin the sketch ran per group
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, true AS rank_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      // third sketch-family member:
      // per-language length quantiles via approx_percentile (fixed-size
      // mergeable GK state vs the exact path's full per-group multiset),
      // gated on the GK RANK contract — definition-convention-immune:
      // the true rank of each sketch output must sit within p*n ± n/acc+1,
      // booleans pinned by the oracle
      TextOps.quantileSketchGate(Tables.documents(s, dir)).orderBy(col("lang"))
    },

    QueryDef("g_embed_pca",
      // the invariant gate: the booleans must hold for ANY correct PCA of
      // this corpus (norm contraction / eigenvalue-ordered energies /
      // variance floor), so the oracle asserts them as constants
      """SELECT CAST(8 AS INT) AS k, count(*) AS n_vecs,
        |       true AS norms_contract, true AS energy_ordered,
        |       true AS var_frac_ok
        |FROM embeddings""".stripMargin) { (s, dir) => // PCA dimension reduction (64 -> 8)
      // invariant-gated: covariance via one distributed pass (d^2 driver
      // state), eigen on the driver, projection per-row. The gate row
      // asserts the three things a correct PCA cannot violate: orthonormal
      // projections contract norms, per-component energies follow the
      // eigenvalue order, top-8 variance clears the floor.
      SimilarityOps.pcaInvariants(Tables.embeddings(s, dir), k = 8, varFloor = 0.1)
    },

    QueryDef("g_semdedup",
      // blocks recomputed from the inlined hyperplane signs, then the drop
      // rule: a vector is dropped iff an earlier same-block vector has
      // floor-at-4 cosine >= 0.35; dup_of = the earliest such winner
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (
         |  SELECT vec_id, v,
         |    (CASE WHEN list_dot_product(v, ${rhpSignsSql(0, 64)}) >= 0 THEN 1 ELSE 0 END)
         |  + (CASE WHEN list_dot_product(v, ${rhpSignsSql(1, 64)}) >= 0 THEN 2 ELSE 0 END)
         |  + (CASE WHEN list_dot_product(v, ${rhpSignsSql(2, 64)}) >= 0 THEN 4 ELSE 0 END) AS bucket
         |  FROM v),
         |losers AS (
         |  SELECT b2.vec_id AS vec_id, min(b1.vec_id) AS dup_of
         |  FROM b b1 JOIN b b2 ON b1.bucket = b2.bucket AND b1.vec_id < b2.vec_id
         |  WHERE floor((list_dot_product(b1.v, b2.v) /
         |        (sqrt(list_dot_product(b1.v, b1.v)) * sqrt(list_dot_product(b2.v, b2.v)))) * 10000) / 10000 >= 0.35
         |  GROUP BY b2.vec_id)
         |SELECT v.vec_id, l.dup_of IS NULL AS kept, l.dup_of
         |FROM v LEFT JOIN losers l USING (vec_id)
         |ORDER BY vec_id""".stripMargin) { (s, dir) => // SemDeDup-style semantic dedup over the
      // LSH-blocked pair list: every vector keeps/drops against its
      // earliest in-block near-dup. Oracle recomputes blocks from inlined
      // hyperplane signs + the drop rule — the whole decision is
      // hash-gated, unlike k-means blocking whose cells are driver state.
      SimilarityOps.semanticDedup(Tables.embeddings(s, dir), threshold = 0.35, nPlanes = 3)
        .orderBy(col("vec_id"))
    },

    QueryDef("g_semdedup_exact",
      // the unblocked definition truth: same drop rule over all pairs
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |losers AS (
        |  SELECT b2.vec_id AS vec_id, min(b1.vec_id) AS dup_of
        |  FROM v b1 JOIN v b2 ON b1.vec_id < b2.vec_id
        |  WHERE floor((list_dot_product(b1.v, b2.v) /
        |        (sqrt(list_dot_product(b1.v, b1.v)) * sqrt(list_dot_product(b2.v, b2.v)))) * 10000) / 10000 >= 0.35
        |  GROUP BY b2.vec_id)
        |SELECT v.vec_id, l.dup_of IS NULL AS kept, l.dup_of
        |FROM v LEFT JOIN losers l USING (vec_id)
        |ORDER BY vec_id""".stripMargin) { (s, dir) => // the same drop rule over ALL pairs
      // (nPlanes = 0 -> single block): the definition truth the blocked
      // path approximates — verification-scale only (one join task), like
      // g_embed_pairs' quadratic blocks; production is g_semdedup.
      SimilarityOps.semanticDedup(Tables.embeddings(s, dir), threshold = 0.35, nPlanes = 0)
        .orderBy(col("vec_id"))
    },

    QueryDef("g_semdedup_kmeans",
      // full replay of the fixture-centroid k-means blocking: cosine
      // against the 4 inlined ±1 centroids (both sides sequential-left-fold
      // doubles — bit-exact parity), argmax cell with ties to the smallest
      // cid (the CASE's >= order == cellExpr's (csim, -cid) struct max),
      // then the identical in-block drop rule as g_semdedup
      {
        // interpolation precedes the outer stripMargin; the cosine
        // continuation lines carry no '|' so the margin strip leaves them
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |c AS (
           |  SELECT vec_id, v,
           |    ${fixtureCosSql("v", "c")}
           |  FROM v),
           |b AS (SELECT vec_id, v, ${fixtureCellSql("c")} AS block FROM c),
           |losers AS (
           |  SELECT b2.vec_id AS vec_id, min(b1.vec_id) AS dup_of
           |  FROM b b1 JOIN b b2 ON b1.block = b2.block AND b1.vec_id < b2.vec_id
           |  WHERE floor((list_dot_product(b1.v, b2.v) /
           |        (sqrt(list_dot_product(b1.v, b1.v)) * sqrt(list_dot_product(b2.v, b2.v)))) * 10000) / 10000 >= 0.35
           |  GROUP BY b2.vec_id)
           |SELECT v.vec_id, l.dup_of IS NULL AS kept, l.dup_of
           |FROM v LEFT JOIN losers l USING (vec_id)
           |ORDER BY vec_id""".stripMargin
      }) { (s, dir) => // the paper's k-means blocking,
      // row-level (round-9 verdict #4): cell assignment = argmax cosine
      // against 4 inline ±1 FIXTURE centroid vectors (ties to the smallest
      // cid) via the same codegen'd cellExpr kernel the IVF path uses, so
      // the oracle replays the WHOLE per-row decision from inline literals
      // the way g_semdedup replays hyperplane signs — kept/dup_of for every
      // vector, not a 1-row invariant scalar. The data-derived ivfCentroids
      // variant (semanticDedupKMeans) keeps its invariant + superset spec
      // gates in TemporalCurationSpec.
      SimilarityOps.semanticDedupWithCentroids(
          Tables.embeddings(s, dir), threshold = 0.35, centroids = fixtureCentroids(64))
        .orderBy(col("vec_id"))
    },

    QueryDef("g_kmeans_step",
      // full replay of one Lloyd update: cosine against the 4 inlined ±1
      // centroids (sequential-left-fold doubles — bit-exact parity),
      // argmax cell with ties to the smallest cid, then per-(cell, dim)
      // fixed-point means: floor(x*1e6) is the same IEEE double product
      // floored in both engines, and the BIGINT sums are exact — no
      // FP-addition order anywhere between the engines
      kmeansStepOracleSql) { (s, dir) => // one distributed Lloyd update step,
      // row-level: nearest-centroid assignment against the 4 inline ±1
      // fixture centroids (the same codegen cellExpr kernel the IVF path
      // uses), then per-(cell, dim) FIXED-POINT means — coordinates are
      // floor(x*1e6) longs so the partial sums commute across partitions
      // and both engines sum exact integers. This is the update step
      // ivfCentroids iterates; the oracle replays assignment + means from
      // inline literals the way g_semdedup_kmeans replays its blocking.
      val vecs = Tables.embeddings(s, dir)
        .select(col("vec_id").as("id"), VectorFns.toDouble(col("embedding")).as("v"))
      SimilarityOps.kmeansStep(vecs, fixtureCentroids(64))
        .orderBy(col("cell"), col("dim"))
    },

    QueryDef("q_stream_kmeans",
      // the streaming centroid sink's single-batch degenerate case IS the
      // batch Lloyd step (state = that batch's fixed-point sums, read back
      // as means) — the same oracle verbatim; multi-batch sequential
      // semantics are KmeansStreamSpec's job
      kmeansStepOracleSql) { (s, dir) => // streaming mini-batch k-means,
      // oracle side: an AvailableNow run of kmeansStream over the whole
      // embeddings table is ONE micro-batch assigned against the fixture
      // seed — the landed fixed-point state read back as means must equal
      // the batch Lloyd step exactly (g_kmeans_step's oracle verbatim).
      // Multi-batch sequential semantics, replay idempotence, drifted-seed
      // refusal and state compaction are KmeansStreamSpec's job.
      val out = scratchDir("q_stream_km")
      val src = stream(s, dir, "embeddings")
      drain(s, dir, "embeddings")(graft.streaming.StreamingOps
        .kmeansStream(src, s"$out/kmstate", s"$out/ckpt", seed = fixtureCentroids(64)))
      graft.streaming.StreamingOps.readStreamKmeans(s, s"$out/kmstate")
        .orderBy(col("cell"), col("dim"))
    },

    QueryDef("g_domain_quota",
      // the single-window formulation the two-phase salted ranking must
      // exactly reproduce
      """SELECT doc_id, source, n_chars, rank FROM (
        |  SELECT doc_id, source, n_chars,
        |         CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS INT) AS rank
        |  FROM documents) t
        |WHERE rank <= 10 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // per-domain document cap (top-N by
      // length per source), two-phase salted ranking so a mega-domain is
      // saltBuckets parallel tasks, not one window task; survivor ranks
      // provably equal the single-window formulation the oracle computes
      CurationOps.domainQuota(Tables.documents(s, dir), quota = 10, saltBuckets = 4)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_dataset_card",
      // the quality expression is g_quality's quality column pre-floor;
      // sums cast to BIGINT (DuckDB sum(BIGINT) is HUGEINT)
      oracleSqlDatasetCard) { (s, dir) => // per-source corpus report: one
      // map-side-combined aggregation pass (plus the exact-distinct
      // expansion), fixed-point quality mean — the release-notes numbers
      // of a curated corpus, bit-identical under any partitioning
      CurationOps.datasetCard(Tables.documents(s, dir))
        .orderBy(col("source"))
    },

    QueryDef("g_dsir_weights",
      // replay: whitespace tokens, the (acc*31+codepoint) mod 1e9+7
      // rolling fingerprint per token (the g_cdc_chunks identity) mod 64
      // as the feature bucket, Laplace-smoothed integer ratio weights
      // (// = DuckDB integer division = Spark DIV), per-doc sums
      """WITH tk AS (SELECT doc_id,
        |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
        |        unnest(string_split(coalesce(text, ''), ' ')) AS tok
        |      FROM documents),
        |b AS (SELECT doc_id, is_t,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(range(1, length(tok)+1),
        |            i -> CAST(unicode(tok[i]) AS BIGINT))),
        |          (acc, c) -> (acc*31 + c) % 1000000007) % 64 AS bkt
        |      FROM tk),
        |w AS (SELECT bkt,
        |        (CAST((sum(CASE WHEN is_t = 1 THEN 1 ELSE 0 END) + 1) AS BIGINT) * 1000000)
        |          // CAST((sum(CASE WHEN is_t = 0 THEN 1 ELSE 0 END) + 1) AS BIGINT) AS w
        |      FROM b GROUP BY bkt)
        |SELECT b.doc_id, CAST(max(b.is_t) AS BIGINT) AS is_target,
        |       count(*) AS n_tokens, CAST(sum(w.w) AS BIGINT) AS score
        |FROM b JOIN w USING (bkt)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      // DSIR-style hashed n-gram
      // importance scores: target = English docs, raw = the rest;
      // bucketed token features (rolling-fingerprint buckets, 64 here so
      // the sf0.001 corpus populates them), Laplace-smoothed fixed-point
      // target/raw ratio per bucket, per-doc integer score sums —
      // bit-identical across engines and partitionings
      CurationOps.importanceWeights(
          Tables.documents(s, dir), targetPred = col("lang") === "en",
          nBuckets = 64)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_quality_quantile",
      // the single-window formulation with the exact count-derived quota;
      // the q_score expression is g_quality's quality column verbatim
      """WITH s AS (
        |  SELECT doc_id, source,
        |         floor(least(greatest(
        |           least(len(string_split(text, ' ')) / 64.0, 1.0) * 0.4 +
        |           (len(list_distinct(string_split(text, ' '))) /
        |            CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.4 +
        |           (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) /
        |                  CAST(length(text) AS DOUBLE)) * 0.2,
        |           0.0), 1.0) * 10000) / 10000 AS q_score
        |  FROM documents),
        |c AS (SELECT source, CAST(ceil(0.3 * CAST(count(*) AS DOUBLE)) AS BIGINT) AS quota
        |      FROM s GROUP BY source),
        |r AS (SELECT s.doc_id, s.source, s.q_score,
        |             CAST(row_number() OVER (
        |               PARTITION BY s.source ORDER BY s.q_score DESC, s.doc_id) AS INT) AS rank,
        |             c.quota
        |      FROM s JOIN c USING (source))
        |SELECT doc_id, source, q_score, rank FROM r WHERE rank <= quota
        |ORDER BY doc_id""".stripMargin) { (s, dir) => // per-domain quality-quantile
      // filter: keep each source's top 30% by the heuristic quality score
      // (count-derived exact quota, salted two-phase ranking — the
      // domainQuota skew machinery with a dynamic per-domain cutoff).
      // Oracle replays the single-window formulation the salted form
      // provably reproduces.
      CurationOps.qualityQuantileFilter(
          Tables.documents(s, dir), keepFrac = 0.3, saltBuckets = 4)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_chunk_store",
      // the round-trip truth is just the original corpus digests: equality
      // certifies the store's write/dedup/reassembly pipeline end-to-end
      oracleSqlChunkStore) { (s, dir) => // content-addressed chunk store
      // round trip: write the corpus into the dedup STORAGE layout (each
      // distinct CDC chunk once + per-payload recipes), reassemble every
      // payload from its recipe, and prove the round trip byte-exact by
      // digest — the oracle hashes the ORIGINALS, so a green row
      // certifies write + store-dedup + join + ordered concat end to end.
      val path = scratchDir("chunkstore") + "/store"
      MultimodalOps.writeChunkStore(
        MultimodalOps.mediaFromDocuments(Tables.documents(s, dir)), path)
      MultimodalOps.readChunkStore(s, path)
        .select(col("media_id"), md5(col("content")).as("content_md5"))
        .orderBy(col("media_id"))
    },

    QueryDef("g_cdc_binary",
      // replay at byte granularity: the (acc*31+byte) fold over each
      // 8-byte window (byte == codepoint on this ASCII corpus), boundary
      // = fp % 16 == 0 at pos > 0, running-sum chunk ids, then exact
      // content-keyed occurrence counting — identical chunking to the
      // [start, end)-range formulation the engine derives from the
      // boundary array
      """WITH t AS (SELECT doc_id, coalesce(text, '') AS s FROM documents),
        |p AS (SELECT doc_id, s, unnest(range(length(s))) AS pos FROM t WHERE length(s) > 0),
        |x AS (SELECT doc_id, pos, s[pos+1] AS ch,
        |        CASE WHEN pos > 0 AND pos + 8 <= length(s) THEN
        |          (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(range(1, 9), i -> CAST(unicode(s[pos+i]) AS BIGINT))),
        |             (acc, c) -> (acc*31 + c) % 1000000007) % 16 = 0)
        |        ELSE false END AS boundary
        |      FROM p),
        |c AS (SELECT doc_id, pos, ch,
        |        SUM(CASE WHEN boundary THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_idx
        |      FROM x),
        |ch2 AS (SELECT doc_id, chunk_idx, string_agg(ch, '' ORDER BY pos) AS chunk_text
        |        FROM c GROUP BY doc_id, chunk_idx),
        |o AS (SELECT chunk_text, count(*) AS occ FROM ch2 GROUP BY chunk_text)
        |SELECT ch2.doc_id AS media_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(count(CASE WHEN o.occ >= 2 THEN 1 END) AS BIGINT) AS n_dup_chunks
        |FROM ch2 JOIN o USING (chunk_text)
        |GROUP BY ch2.doc_id ORDER BY media_id""".stripMargin) { (s, dir) =>
      // BYTE-level CDC dedup over the
      // multimodal binary column (the native rolling-hash kernel —
      // graft_cdc_boundaries — then map-only chunk extraction and
      // content-keyed occurrence counting). The text corpus as utf-8
      // bytes is the oracle-replayable stand-in (byte == codepoint on
      // ASCII, the g_multimodal_decode precedent); real binary payloads
      // are gated by the driver-reference spec instead.
      MultimodalOps.cdcByteStats(
          MultimodalOps.mediaFromDocuments(Tables.documents(s, dir)),
          w = 8, divisor = 16)
        .orderBy(col("media_id"))
    },

    QueryDef("g_cdc_chunks",
      // replay: token windows, the (acc*31+code) mod 1e9+7 fold over the
      // 3-token shingle string, boundary = fp % 8 == 0 at pos > 0, a
      // running boundary sum as the chunk id, then occurrence counting
      """WITH t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks FROM t),
        |x AS (SELECT doc_id, pos, toks[pos+1] AS tok,
        |        CASE WHEN pos + 3 <= len(toks) AND pos > 0 THEN
        |          (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(range(1, length(array_to_string(toks[pos+1:pos+3], ' '))+1),
        |               i -> CAST(unicode(array_to_string(toks[pos+1:pos+3], ' ')[i]) AS BIGINT))),
        |             (acc, c) -> (acc*31 + c) % 1000000007) % 8 = 0)
        |        ELSE false END AS boundary
        |      FROM p),
        |c AS (SELECT doc_id, pos, tok,
        |        SUM(CASE WHEN boundary THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_idx
        |      FROM x),
        |ch AS (SELECT doc_id, chunk_idx, string_agg(tok, ' ' ORDER BY pos) AS chunk_text
        |       FROM c GROUP BY doc_id, chunk_idx),
        |o AS (SELECT chunk_text, count(*) AS occ FROM ch GROUP BY chunk_text)
        |SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(count(CASE WHEN o.occ >= 2 THEN 1 END) AS BIGINT) AS n_dup_chunks
        |FROM ch JOIN o USING (chunk_text)
        |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin) { (s, dir) =>
      // content-defined chunking dedup
      // report: rolling-fingerprint boundaries (w=3 windows, divisor 8),
      // corpus-wide chunk occurrence counts, per-doc dup totals. String
      // mode for the oracle; hashed=true is the same plan with 8-byte
      // keys through the occurrence shuffle. Shift-resistance (the point
      // of CDC vs fixed stride) is spec-pinned.
      DedupOps.cdcChunkStats(Tables.documents(s, dir), w = 3, divisor = 8)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_cdc_neardup",
      // the g_cdc_binary byte-fold chunking replay, then distinct
      // per-payload chunk sets, an inverted-index pair join, and the
      // integer cross-multiplied Jaccard threshold — all-integer
      // arithmetic end to end (// is DuckDB's integer division,
      // mirroring Spark's DIV)
      """WITH t AS (SELECT doc_id, coalesce(text, '') AS s FROM documents),
        |p AS (SELECT doc_id, s, unnest(range(length(s))) AS pos FROM t WHERE length(s) > 0),
        |x AS (SELECT doc_id, pos, s[pos+1] AS ch,
        |        CASE WHEN pos > 0 AND pos + 8 <= length(s) THEN
        |          (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(range(1, 9), i -> CAST(unicode(s[pos+i]) AS BIGINT))),
        |             (acc, c) -> (acc*31 + c) % 1000000007) % 16 = 0)
        |        ELSE false END AS boundary
        |      FROM p),
        |c AS (SELECT doc_id, pos, ch,
        |        SUM(CASE WHEN boundary THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_idx
        |      FROM x),
        |ch2 AS (SELECT doc_id, chunk_idx, string_agg(ch, '' ORDER BY pos) AS chunk_text
        |        FROM c GROUP BY doc_id, chunk_idx),
        |s2 AS (SELECT DISTINCT doc_id, chunk_text FROM ch2),
        |n AS (SELECT doc_id, count(*) AS n FROM s2 GROUP BY doc_id),
        |pr AS (SELECT a.doc_id AS media_a, b.doc_id AS media_b, count(*) AS inter
        |       FROM s2 a JOIN s2 b ON a.chunk_text = b.chunk_text AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT pr.media_a, pr.media_b, pr.inter, na.n AS n_a, nb.n AS n_b,
        |       (pr.inter * 1000000) // (na.n + nb.n - pr.inter) AS jaccard_ppm
        |FROM pr JOIN n na ON na.doc_id = pr.media_a
        |        JOIN n nb ON nb.doc_id = pr.media_b
        |WHERE pr.inter * 100 >= 50 * (na.n + nb.n - pr.inter)
        |ORDER BY media_a, media_b""".stripMargin) { (s, dir) => // binary near-dup pairs by CDC
      // chunk-set Jaccard (>= 50%): the media-dedup step whole-file
      // digests cannot see — a re-containered copy keeps most chunk
      // frames. Inverted-index equi-join on the chunk key, integer
      // cross-multiplied threshold (no FP boundary). String-chunk mode
      // for the oracle; hashed + maxDf are the 100 TB path (spec-gated).
      MultimodalOps.cdcNearDups(
          MultimodalOps.mediaFromDocuments(Tables.documents(s, dir)),
          thresholdPct = 50, w = 8, divisor = 16)
        .orderBy(col("media_a"), col("media_b"))
    },

    QueryDef("g_dup_passages",
      // distinct 3-token shingles per doc (short docs = whole text, the
      // shingleRows convention) -> doc frequency -> per-doc dup fraction
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |      THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
        |      ELSE [array_to_string(t, ' ')] END) AS shingle
        |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))),
        |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
        |SELECT s.doc_id, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
        |       floor((CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)) * 1000000) / 1000000 AS dup_frac
        |FROM sh s JOIN df f USING (shingle)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      // cross-doc duplicated-passage
      // fraction per doc (shingle-level dedup companion); string-shingle
      // mode so DuckDB recomputes the identical counts — hashed mode is
      // the same plan with 8-byte shingles through the shuffles
      TextOps.duplicatedPassages(Tables.documents(s, dir), k = 3, hashed = false)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_dup_spans",
      // positioned 3-shingles (docs >= 3 tokens) -> corpus occurrence >= 2
      // -> gaps-and-islands merge (idx - row_number) -> spans >= 8 tokens
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, unnest(range(1, len(t) - 1)) AS i, t FROM base WHERE len(t) >= 3),
        |sh AS (SELECT doc_id, i - 1 AS idx, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
        |occ AS (SELECT shingle FROM (SELECT shingle, count(*) AS c FROM sh GROUP BY 1) WHERE c >= 2),
        |isl AS (SELECT doc_id, idx,
        |               idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
        |        FROM sh JOIN occ USING (shingle))
        |SELECT doc_id, CAST(min(idx) AS BIGINT) AS start_tok,
        |       CAST(max(idx) + 2 AS BIGINT) AS end_tok,
        |       CAST(max(idx) - min(idx) + 3 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, grp
        |HAVING max(idx) - min(idx) + 3 >= 8
        |ORDER BY doc_id, start_tok""".stripMargin) { (s, dir) =>
      // exact substring dedup, detect phase:
      // maximal token ranges of corpus-duplicated 3-shingle runs, >= 8
      // tokens; string mode for the oracle, hashed is the 100 TB path
      TextOps.duplicatedSpans(Tables.documents(s, dir), k = 3, minSpanTokens = 8, hashed = false)
        .orderBy(col("doc_id"), col("start_tok"))
    },

    QueryDef("g_span_clip",
      // the remove phase: tokens not covered by any >= 8-token span,
      // rejoined; LEFT JOIN keeps fully-clipped docs as ''
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, unnest(range(1, len(t) - 1)) AS i, t FROM base WHERE len(t) >= 3),
        |sh AS (SELECT doc_id, i - 1 AS idx, array_to_string(t[i:i+2], ' ') AS shingle FROM pos),
        |occ AS (SELECT shingle FROM (SELECT shingle, count(*) AS c FROM sh GROUP BY 1) WHERE c >= 2),
        |isl AS (SELECT doc_id, idx,
        |               idx - row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS grp
        |        FROM sh JOIN occ USING (shingle)),
        |spans AS (SELECT doc_id, min(idx) AS s, max(idx) + 2 AS e
        |          FROM isl GROUP BY doc_id, grp HAVING max(idx) - min(idx) + 3 >= 8),
        |tok AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS ti, t FROM base),
        |keep AS (SELECT k.doc_id, k.ti - 1 AS i, k.t[k.ti] AS tk FROM tok k
        |         WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |                           WHERE sp.doc_id = k.doc_id AND k.ti - 1 BETWEEN sp.s AND sp.e))
        |SELECT b.doc_id, coalesce(kc.ct, '') AS clean_text
        |FROM base b LEFT JOIN (SELECT doc_id, array_to_string(list(tk ORDER BY i), ' ') AS ct
        |                       FROM keep GROUP BY doc_id) kc USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) => // exact substring dedup, remove phase:
      // every doc rebuilt with its duplicated spans clipped out (fully-
      // covered exact-dup docs come back as ''); one codegen HOF pass,
      // no token explode on the clip side
      TextOps.clipDuplicatedSpans(Tables.documents(s, dir), k = 3, minSpanTokens = 8, hashed = false)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_dup_spans_incr",
      // the spec-pinned identity: spans against the corpus index ==
      // duplicatedSpans over the UNION, restricted to increment docs
      // (corpus_cnt + inc_cnt >= 2 is the union occurrence count)
      oracleSqlDupSpansIncr) { (s, dir) => // incremental span detection against
      // a persisted shingle-COUNT index (counts, not positions — the index
      // is orders of magnitude smaller than the corpus); must equal
      // duplicatedSpans over the union restricted to increment docs, which
      // is exactly what the oracle computes
      val docs = Tables.documents(s, dir)
      val out = scratchDir("span_index")
      val path = s"$out/spanidx"
      TextOps.writeShingleIndex(docs.filter(col("doc_id") % 5 =!= 0), path,
        k = 3, nPb = 8, hashed = false)
      TextOps.duplicatedSpansAgainst(docs.filter(col("doc_id") % 5 === 0), path,
        k = 3, minSpanTokens = 8, hashed = false)
        .orderBy(col("doc_id"), col("start_tok"))
    },

    QueryDef("g_dedup_simhash_complete", "SELECT 3 AS max_hamming, true AS complete") { (s, dir) =>
      // the pigeonhole guarantee,
      // driver-gated: pairs found via the 4x16-bit block self-join must
      // EQUAL the brute-force hamming<=3 pairs over the same fingerprints
      // (any pair within the radius shares >= 1 whole block — exact recall
      // by construction, not sampling)
      val docs = Tables.documents(s, dir)
      val fps = DedupOps.simHashFingerprints(docs)
      val brute = fps.select(col("id").as("id1"), col("fp").as("fp1"))
        .join(fps.select(col("id").as("id2"), col("fp").as("fp2")), col("id1") < col("id2"))
        .filter(graft.functions.TextFns.hamming64(col("fp1"), col("fp2")) <= 3)
        .agg(count(lit(1)).as("n_brute"))
      val blocked = DedupOps.simHashNearDups(docs, maxHamming = 3)
        .agg(count(lit(1)).as("n_blocked"))
      blocked.crossJoin(brute)
        .select(lit(3).as("max_hamming"), (col("n_blocked") === col("n_brute")).as("complete"))
    },

    QueryDef("g_dedup_clusters",
      // connected components over the exact shingle-Jaccard pair list (the
      // proven-equal truth of the MinHash pair list — g_dedup_minhash),
      // recomputed via recursive-CTE transitive closure; min reachable id
      // per doc == min-label propagation at convergence
      oracleSqlDedupClusters) { (s, dir) => // near-dup clusters over MinHash
      // pairs — the 100 TB composition (LSH candidates -> label prop),
      // oracle-gated end-to-end: the MinHash pair list is oracle-equal to
      // exact shingle-Jaccard pairs (g_dedup_minhash green), so the DuckDB
      // recursive-CTE components over those pairs are the exact truth.
      DedupOps.nearDupClusters(
          DedupOps.minHashNearDups(Tables.documents(s, dir), threshold = 0.5),
          maxIter = 10) // earlyStop probes convergence; cliques need <=3
        .orderBy(col("doc_id"))
    },

    QueryDef("g_dedup_clusters_exact",
      // connected components over the exact-Jaccard pair list, recomputed
      // independently: transitive closure via recursive CTE, then min
      // reachable id per doc = cluster label (matches min-label propagation
      // at convergence)
      s"""WITH RECURSIVE base AS (
        |  SELECT doc_id, lang, floor(n_chars / 8) AS len_bucket,
        |         list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM base a JOIN base b
        |    ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.5),
        |${reachCtesSql("pairs")}
        |SELECT a AS doc_id, min(b) AS cluster_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // the same connected-components
      // operator over the ORACLE-GREEN exact pair list (g_dedup_jaccard);
      // the DuckDB oracle recomputes the components with a recursive CTE,
      // so min-label propagation is hash-gated end-to-end.
      DedupOps.nearDupClusters(
          DedupOps.ngramJaccardPairs(Tables.documents(s, dir), blockWidth = 8, threshold = 0.5),
          maxIter = 10)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_dedup_cc_star",
      // same truth as g_dedup_clusters (components over the exact
      // shingle-Jaccard pair list, proven equal to the MinHash pair list);
      // gates the alternating-star algorithm's output row-level
      oracleSqlDedupClusters) { (s, dir) => // the large-star/small-star CC
      // algorithm (the O(log² n)-round scale path, skew-safe on hub
      // nodes) over the MinHash pair list — the full 100 TB composition,
      // gated row-level: the pair list is oracle-equal to exact
      // shingle-Jaccard pairs (g_dedup_minhash green), and the oracle's
      // recursive-CTE closure over those pairs is the component truth.
      DedupOps.nearDupClustersStar(
          DedupOps.minHashNearDups(Tables.documents(s, dir), threshold = 0.5))
        .orderBy(col("doc_id"))
    },

    QueryDef("g_cluster_keep",
      // the g_dedup_cc_star closure truth, then the election: rank within
      // each cluster by (n_chars DESC, doc_id), keep rank 1; docs outside
      // every cluster keep themselves
      s"""WITH RECURSIVE ${shingleReachCtesSql("documents")},
        |assign AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
        |ranked AS (
        |  SELECT d.doc_id, s.cluster_id,
        |    row_number() OVER (PARTITION BY s.cluster_id
        |                       ORDER BY d.n_chars DESC, d.doc_id) AS rn
        |  FROM documents d JOIN assign s ON d.doc_id = s.doc_id)
        |SELECT doc_id, cluster_id,
        |  CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM ranked
        |UNION ALL
        |SELECT d.doc_id, d.doc_id AS cluster_id, CAST(1 AS BIGINT) AS keep
        |FROM documents d LEFT JOIN assign s ON d.doc_id = s.doc_id
        |WHERE s.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin) { (s, dir) => // canonical-representative election:
      // the assignment (star CC over the oracle-equal MinHash pair list)
      // joined back to the corpus once; keep = 1 for the longest doc of
      // each cluster (ties -> lowest id) and for every unclustered
      // singleton. The election is a partial-aggregable max_by (hub-
      // cluster skew-safe) — at 100 TB the corpus never feeds a window
      // or sort, just one join.
      val docs = Tables.documents(s, dir)
      DedupOps.canonicalPerCluster(docs,
          DedupOps.nearDupClustersStar(
            DedupOps.minHashNearDups(docs, threshold = 0.5)))
        .orderBy(col("doc_id"))
    },

    QueryDef("g_dedup_cc_incr",
      // identical truth to g_dedup_cc_star: merging the delta pairs into
      // the prior assignment must reproduce the full recursive closure
      oracleSqlDedupClusters) { (s, dir) => // incremental CC, the daily-crawl
      // shape: prior assignment over the corpus-only pair list + today's
      // pairs touching increment docs == the full-recompute component
      // truth (g_dedup_cc_star's oracle verbatim). History's pair list is
      // never rematerialized — the assignment is its lossless
      // connectivity summary.
      val docs = Tables.documents(s, dir)
      // pin the pair list ONCE: unpinned, the prior star loop and the
      // incremental star loop each re-derive the full MinHash signature
      // + rescore pipeline (two corpus-sized computations for one truth)
      val all = graft.operators.Checkpoints.pin(
        DedupOps.minHashNearDups(docs, threshold = 0.5)
          .select(col("id1"), col("id2")), reliable = false)
      val prior = DedupOps.nearDupClustersStar(
        all.filter(col("id1") % 5 =!= 0 && col("id2") % 5 =!= 0))
      val fresh = all.filter(col("id1") % 5 === 0 || col("id2") % 5 === 0)
      DedupOps.nearDupClustersIncremental(prior, fresh).orderBy(col("doc_id"))
    },

    QueryDef("g_dedup_simhash",
      // brute-force recomputation: FNV-1a 64 per token (HUGEINT fold ==
      // Java wrapping-long fold), per-bit majority vote, all-pairs hamming
      // <= 3 — certifies the banded block join loses no pair at the radius
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |h AS (
        |  SELECT doc_id, CAST(list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |      list_transform(range(1, length(tok)+1), i -> CAST(unicode(tok[i]) AS HUGEINT))),
        |    (acc, c) -> (xor(acc, c) * 1099511628211) % 18446744073709551616) AS UBIGINT) AS h
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(0, 64) t(b)
        |  GROUP BY doc_id, b),
        |fp AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN CAST(CAST(1 AS UBIGINT) << b AS HUGEINT) ELSE 0 END) AS UBIGINT) AS fp
        |  FROM votes GROUP BY doc_id)
        |SELECT a.doc_id AS id1, c.doc_id AS id2,
        |       CAST(bit_count(xor(a.fp, c.fp)) AS INT) AS hamming
        |FROM fp a JOIN fp c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.fp, c.fp)) <= 3
        |ORDER BY id1, id2""".stripMargin) { (s, dir) => // SimHash near-dups, oracle-gated:
      // the token hash is FNV-1a 64 (reproducible in DuckDB HUGEINT
      // arithmetic), so the oracle recomputes fingerprints + brute-force
      // hamming<=3 pairs independently — a green hash certifies the banded
      // block join is exact at the radius. Radius 3 = the 16-bit-block
      // scale regime (4 block keys per doc); wider radii narrow the blocks
      // and blow up the candidate join.
      DedupOps.simHashNearDups(Tables.documents(s, dir), maxHamming = 3)
        .orderBy(col("id1"), col("id2"))
    },

    QueryDef("g_sim_topk", oracleSqlSimTopK) { (s, dir) => // exact cosine top-k vs vec_id=0
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      SimilarityOps.bruteForceTopK(e, q, 20)
    },

    QueryDef("g_sim_sq8",
      // full replay: per-vector symmetric int8 encode (floor(x+0.5)
      // rounding — identical tie behavior in both engines), exact-integer
      // quantized-cosine ranking, top-80 shortlist, floored-cosine re-rank;
      // the pruned arm adds the fixture-centroid cell argmax + probe-cell
      // IN filter before the shortlist cut (the pqOracleSql discipline)
      sq8OracleSql(pruned = false)) { (s, dir) => // scalar-quantized (SQ8) compressed scan:
      // one int8 code per dimension (8x less bandwidth than float64), the
      // scan reads codes only and ranks by the EXACT-INTEGER quantized
      // cosine (fused kernel emits dot and norm as longs; one double
      // division — bit-stable across engines), then the top-(k*refine)
      // shortlist joins the raw store for the exact floored-cosine answer.
      // Fully deterministic, so the oracle replays encode + integer ADC +
      // re-rank end to end — no recall floor needed.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      SimilarityOps.sq8TopK(e, q, k = 20, refine = 4)
    },

    QueryDef("g_sim_hamming",
      // full replay: sign-bit pack into one UBIGINT word (bit j set iff
      // v[j] > 0 — same two's-complement bit pattern as the engine's
      // long), hamming = bit_count(xor), top-80 by (hamming, id),
      // zero-norm rows dropped at the re-rank, floored-cosine answer
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |fp AS (SELECT vec_id,
        |         bit_or(CASE WHEN v[b + 1] > 0 THEN CAST(1 AS UBIGINT) << b
        |                     ELSE CAST(0 AS UBIGINT) END) AS fp
        |       FROM v CROSS JOIN range(0, 64) t(b) GROUP BY vec_id),
        |qf AS (SELECT fp AS qfp FROM fp WHERE vec_id = 0),
        |short AS (SELECT f.vec_id, CAST(bit_count(xor(f.fp, qfp)) AS INT) AS hamming
        |          FROM fp f, qf
        |          ORDER BY hamming, f.vec_id LIMIT 80),
        |q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
        |re AS (SELECT s.vec_id, s.hamming,
        |        floor((list_dot_product(w.v, qv) /
        |              (sqrt(list_dot_product(w.v, w.v)) * sqrt(list_dot_product(qv, qv)))) * 10000) / 10000 AS sim
        |       FROM short s JOIN v w ON w.vec_id = s.vec_id, q
        |       WHERE list_dot_product(w.v, w.v) > 0)
        |SELECT vec_id, hamming, sim FROM re ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin
    ) { (s, dir) => // binary sign sketch: 1 bit/dim packed
      // into ceil(d/64) longs (64x less bandwidth), candidates ranked by
      // hamming distance bit_count(xor) — built-in integer ops — exact
      // floored-cosine re-rank of the top-(k*refine). The cheapest rung of
      // the compressed-scan ladder (float64 -> SQ8 -> PQ -> binary);
      // deterministic end to end, so the oracle replays pack + popcount +
      // re-rank.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      SimilarityOps.hammingTopK(e, q, k = 20, refine = 4)
    },

    QueryDef("g_sim_ivfsq8", sq8OracleSql(pruned = true)) { (s, dir) =>
      // the FAISS IVF,SQ8 composition:
      // coarse-quantize to the fixture cells, IN-filter the query's 2
      // nearest cells (directory pruning under a cell-partitioned
      // layout), integer-ADC-score only surviving codes, exact re-rank —
      // the ivfPqTopK plan shape one rung down the compression ladder,
      // hash-gated end to end by the pruned sq8 replay (no recall floor:
      // the pruning is part of the replayed contract).
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      SimilarityOps.ivfSq8TopK(e, fixtureCentroids(64), q, nProbe = 2, k = 20, refine = 4)
    },

    QueryDef("g_sim_sq8_indexed",
      // probe-all over the persisted codes-only SQ8 layout == the full scan
      sq8OracleSql(pruned = false)) { (s, dir) => // the PERSISTED IVF-SQ8 layout:
      // codes-only files (d int8s per row, raw vectors not stored), cell
      // hive directories, probe-all readback == the full integer-ADC scan
      // — the g_sim_pq_indexed losslessness contract one rung down the
      // ladder (write + directory-pruned read + re-rank against the raw
      // store, all certified by the g_sim_sq8 oracle hash).
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val path = scratchDir("sq8idx") + "/idx"
      SimilarityOps.writeSq8Index(e, fixtureCentroids(64), path)
      SimilarityOps.sq8TopKIndexed(s, path, fixtureCentroids(64), e, q,
        k = 20, nProbe = KmFixtureK, refine = 4)
    },

    QueryDef("q_stream_sq8",
      // probe-all over the STREAMED codes-only SQ8 layout == the full scan
      sq8OracleSql(pruned = false)) { (s, dir) => // streaming IVF-SQ8 index maintenance,
      // oracle side: an AvailableNow run of sq8IndexStream lands the
      // embeddings as codes-only cell-partitioned deltas, and a probe-ALL
      // read over the STREAMED index must equal the full integer-ADC scan
      // — g_sim_sq8_indexed's losslessness contract over the streaming
      // landing (shares g_sim_sq8's oracle). Cross-batch replay/fold
      // semantics are Sq8StreamSpec's job.
      val e = Tables.embeddings(s, dir)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val out = scratchDir("q_stream_sq8")
      val src = stream(s, dir, "embeddings")
      drain(s, dir, "embeddings")(graft.streaming.StreamingOps
        .sq8IndexStream(src, fixtureCentroids(64), s"$out/index", s"$out/ckpt"))
      SimilarityOps.sq8TopKIndexed(s, s"$out/index", fixtureCentroids(64), e, qv,
        k = 20, nProbe = KmFixtureK, refine = 4)
    },

    QueryDef("g_serve_pipeline", serveOracleSql) { (s, dir) => // the composed serving stack,
      // hash-gated end to end: IVF candidate routing (probe-2 cell IN
      // filter) -> MaxSim late-interaction scoring of the candidates (the
      // fused T^2 kernel, exact integers) -> top-20 pool by (maxsim, id)
      // -> 5-pick MMR diversification with rel = maxsim. This is the
      // retrieve/rerank/diversify pipeline a RAG or hard-negative-mining
      // deployment runs; composing the three operators in one oracle row
      // certifies the STAGE BOUNDARIES (candidate set, pool cut, pick
      // argmaxes), not just each operator alone.
      val e = Tables.embeddings(s, dir)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val cents = fixtureCentroids(64)
      val vecs = e.select(col("vec_id").as("id"), VectorFns.toDouble(col("embedding")).as("v"))
      val cands = SimilarityOps.assignCells(vecs, cents)
        .filter(col("cell").isin(SimilarityOps.probeCellsOf(cents, qv, 2): _*))
      val pool = cands.select(col("id"), col("v"),
          graft.plans.MaxSimColumns.maxSim(col("v"),
            graft.plans.MaxSimColumns.tokensOf(qv, 8), 8).as("rel_ppm"))
        .orderBy(col("rel_ppm").desc, col("id")).limit(20)
      SimilarityOps.mmrSelectFromPool(pool, k = 5)
    },

    QueryDef("g_bm25", bm25OracleSql) { (s, dir) => // Okapi BM25 lexical retrieval (Lucene-
      // variant idf), top-10 by (score desc, doc_id). Exactness: ln
      // pinned to DECIMAL(18,8), per-term contributions decimal-quantized
      // before the order-free sum, score floored at 4 digits — the whole
      // scorer replays bit-exactly in DuckDB, no tolerance. Shape: token
      // explode -> query-term filter -> (doc,term) tf agg -> broadcast
      // |query|-row df -> doc-keyed dl join -> per-doc agg.
      RetrievalOps.bm25TopK(Tables.documents(s, dir), Bm25Query,
        k = GraftConf.int(s, GraftConf.RetrievalK, 10),
        k1 = GraftConf.fraction(s, GraftConf.Bm25K1, RetrievalOps.DefaultK1, 0.0, 10.0),
        b = GraftConf.fraction(s, GraftConf.Bm25B, RetrievalOps.DefaultB))
    },

    QueryDef("g_bm25_indexed",
      // the indexed probe's contract is bit-equality with the full scan, so
      // it shares g_bm25's oracle hash
      bm25OracleSql) { (s, dir) => // BM25 served from the PERSISTED
      // token-partitioned postings index: (tok, doc_id, tf) rows under
      // pt = pmod(xxhash64(tok), nPt) hive dirs, (doc_id, dl) sidecar,
      // nPt routing contract in _meta.json — the probe reads ONLY the pt
      // directories the query terms hash to (posting-list cost, not
      // corpus cost), never scans documents, and derives N/avgdl in-DAG
      // from the _docs frame it already joins (so the constants track a
      // streamed index). Contract: bit-equal to the full-scan g_bm25
      // (shared oracle hash).
      val path = scratchDir("postings") + "/idx"
      val nPt = GraftConf.int(s, GraftConf.PostingsNPt, 16)
      RetrievalOps.writePostingsIndex(Tables.documents(s, dir), path, nPt)
      RetrievalOps.bm25TopKIndexed(s, path, Bm25Query,
        k = GraftConf.int(s, GraftConf.RetrievalK, 10),
        k1 = GraftConf.fraction(s, GraftConf.Bm25K1, RetrievalOps.DefaultK1, 0.0, 10.0),
        b = GraftConf.fraction(s, GraftConf.Bm25B, RetrievalOps.DefaultB))
    },

    QueryDef("q_stream_postings",
      // streamed + compacted index is bit-equal to the full scan too
      bm25OracleSql) { (s, dir) => // streaming postings-index
      // maintenance, oracle side: an AvailableNow run of postingsStream
      // lands the corpus as pt-partitioned per-batch deltas (_docs-first
      // crash ordering), compactPostingsIndex folds them into the
      // __batch=-1 base, and the BM25 probe over the STREAMED index must
      // be bit-equal to the full-scan g_bm25 (shared oracle hash) — the
      // g_bm25_indexed losslessness contract over the streaming landing
      // plus the fold. Cross-batch replay/lineage/crash-window semantics
      // are PostingsStreamSpec's job.
      val out = scratchDir("q_stream_postings")
      val src = stream(s, dir, "documents")
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .postingsStream(src, s"$out/idx", s"$out/ckpt",
          nPt = GraftConf.int(s, GraftConf.PostingsNPt, 16)))
      graft.streaming.StreamingOps.compactPostingsIndex(s, s"$out/idx")
      RetrievalOps.bm25TopKIndexed(s, s"$out/idx", Bm25Query,
        k = GraftConf.int(s, GraftConf.RetrievalK, 10),
        k1 = GraftConf.fraction(s, GraftConf.Bm25K1, RetrievalOps.DefaultK1, 0.0, 10.0),
        b = GraftConf.fraction(s, GraftConf.Bm25B, RetrievalOps.DefaultB))
    },

    QueryDef("g_hybrid_rrf", hybridOracleSql) { (s, dir) => // hybrid lexical+vector retrieval:
      // BM25 top-30 and exact-cosine top-30 fused by reciprocal-rank
      // fusion (1/(60+rank), decimal-quantized exact sum, 6-digit floor),
      // top-10 by (rrf desc, id) — the standard hybrid-search serving
      // composition; both arms are bounded shortlists so the fusion is
      // 60-row work.
      val e = Tables.embeddings(s, dir)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      RetrievalOps.hybridTopK(Tables.documents(s, dir), e, Bm25Query, qv,
        k = GraftConf.int(s, GraftConf.RetrievalK, 10), poolK = 30,
        rrfK = GraftConf.int(s, GraftConf.RrfK, 60))
    },

    QueryDef("g_maxsim",
      // full replay of the late-interaction scoring: 8x8 token-pair
      // floored fixed-point cosines (zero-norm pairs contribute 0, as in
      // the kernel), per-query-token max, integer sum — order-free exact
      // math, no tolerance anywhere
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
        |pair AS (
        |  SELECT d.vec_id, ti.i,
        |    CASE WHEN list_dot_product(list_slice(qv, i*8+1, (i+1)*8),
        |                               list_slice(qv, i*8+1, (i+1)*8)) = 0
        |           OR list_dot_product(list_slice(d.v, j*8+1, (j+1)*8),
        |                               list_slice(d.v, j*8+1, (j+1)*8)) = 0
        |         THEN 0
        |         ELSE CAST(floor((list_dot_product(list_slice(qv, i*8+1, (i+1)*8),
        |                                           list_slice(d.v, j*8+1, (j+1)*8)) /
        |              (sqrt(list_dot_product(list_slice(qv, i*8+1, (i+1)*8),
        |                                     list_slice(qv, i*8+1, (i+1)*8))) *
        |               sqrt(list_dot_product(list_slice(d.v, j*8+1, (j+1)*8),
        |                                     list_slice(d.v, j*8+1, (j+1)*8))))) * 1000000) AS BIGINT)
        |    END AS s
        |  FROM v d, q, range(0, 8) ti(i), range(0, 8) tj(j)),
        |mx AS (SELECT vec_id, i, max(s) AS ms FROM pair GROUP BY vec_id, i),
        |tot AS (SELECT vec_id, CAST(sum(ms) AS BIGINT) AS maxsim FROM mx GROUP BY vec_id)
        |SELECT vec_id, maxsim FROM tot ORDER BY maxsim DESC, vec_id LIMIT 20""".stripMargin
    ) { (s, dir) => // ColBERT-style late interaction: doc and
      // query are bags of 8 token-vectors (the flat 64-dim embedding
      // sliced by the PQ subspace geometry); score = sum over query
      // tokens of the max fixed-point floored cosine against any doc
      // token — exact integer math end to end (one fused T^2 kernel per
      // row, map-only + TakeOrdered), so the oracle replays the full
      // interaction with no tolerance. At 100 TB this scoring runs over
      // an ANN shortlist; the corpus-wide row hash-gates the scoring.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      SimilarityOps.maxSimTopK(e, q, subDim = 8, k = 20)
    },

    QueryDef("g_mmr_select", mmrOracleSql) { (s, dir) => // maximal marginal relevance: greedy
      // k-pick over the pinned top-40 relevance pool, each pick maximizing
      // 7*rel_ppm - 3*max_sim_ppm (lambda = 0.7 as an integer ratio —
      // every score exact integer math, ties to the smallest id). Picks
      // unroll as k deterministic plan stages (the graphSearch hop
      // discipline): pool x selected is a bounded broadcast product
      // (<= poolSize x k rows), one keyed max, one TakeOrdered(1) each.
      // The oracle replays all five picks with unrolled CTEs.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      SimilarityOps.mmrSelect(e, q, k = 5, poolSize = 40)
    },

    QueryDef("g_sim_pq", pqOracleSql(pruned = false)) { (s, dir) =>
      // product-quantization ADC top-k: encode
      // every vector as 8 codes (per-subspace codegen argmax against the
      // inline ±1 fixture codebooks), score by summing the query's
      // fixed-point per-(subspace, codeword) lookup table — the scan
      // touches m ints per row instead of d floats (the 8–32× smaller
      // index PQ exists for). Row-level oracle: DuckDB replays encode +
      // ADC from the same inline literals.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val cbs = fixturePqCodebooks(64)
      val enc = SimilarityOps.pqEncode(
        e.select(col("vec_id").as("id"), VectorFns.toDouble(col("embedding")).as("v")), cbs)
      SimilarityOps.pqTopK(enc, SimilarityOps.pqLut(cbs, q), 20)
        .withColumnRenamed("id", "vec_id")
    },

    QueryDef("g_sim_ivfpq", pqOracleSql(pruned = true)) { (s, dir) =>
      // IVF-PQ (the FAISS-style composition):
      // coarse-quantize to the fixture cells, keep the query's 2 nearest
      // cells (IN filter — directory pruning under the writeIvfIndex
      // layout), ADC-score only the surviving codes. Projection + filter +
      // top-k: zero exchanges before the final reduction. The oracle
      // replays cell assignment, probe-cell ranking, encode and ADC.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      SimilarityOps.ivfPqTopK(
          e.select(col("vec_id").as("id"), VectorFns.toDouble(col("embedding")).as("v")),
          fixtureCentroids(64), fixturePqCodebooks(64), q, nProbe = 2, k = 20)
        .withColumnRenamed("id", "vec_id")
    },

    QueryDef("g_sim_pq_indexed",
      // probe-all over the persisted codes-only layout == the full ADC scan
      pqOracleSql(pruned = false)) { (s, dir) => // the PERSISTED IVF-PQ layout:
      // codes-only files (the raw vectors are not stored), cell hive
      // directories, probe-all readback == the full ADC scan — the
      // g_sim_ivf_indexed losslessness contract extended to the
      // compressed index (write + directory-pruned read + codes-only
      // ReadSchema, all certified by the g_sim_pq oracle hash).
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val path = scratchDir("pqidx") + "/idx"
      SimilarityOps.writePqIndex(e, fixtureCentroids(64), fixturePqCodebooks(64), path)
      SimilarityOps.pqTopKIndexed(s, path, fixtureCentroids(64), fixturePqCodebooks(64),
        q, k = 20, nProbe = KmFixtureK)
    },

    QueryDef("g_sim_ann",
      // probe-all ANN == brute force: the losslessness gates share the
      // brute-force oracle (see the query comments)
      oracleSqlSimTopK) { (s, dir) => // multi-probe LSH top-k, probe-all setting:
      // with maxProbeFlips = nPlanes every bucket is enumerated, so a green
      // brute-force-oracle hash certifies the bucketed path is LOSSLESS —
      // assignment is total, probe enumeration covers the space, scoring
      // ranks identically — the invariant that makes IN-filter/partition
      // pruning safe at reduced probes. The approximate regime itself is
      // gated by g_sim_ann_recall (this synthetic corpus is near-random, so
      // exact top-20 needs near-exhaustive probing; clustered real corpora
      // probe few buckets).
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      SimilarityOps.lshTopK(e, q, 20, nPlanes = 4, maxProbeFlips = 4)
    },

    QueryDef("g_sim_ann_recall",
      // the recall-floor gates: the Spark side computes recall@20 of the
      // reduced-probe approximate setting against brute force; the oracle row
      // is the asserted expectation — the driver's hash gate goes red if a
      // code change drops recall below the floor
      "SELECT 20 AS k, CAST(0.8 AS DOUBLE) AS recall_floor, true AS meets_floor") { (s, dir) =>
      // the driver-gated recall number:
      // recall@20 of the genuinely approximate setting (probe the query
      // bucket + all hamming<=2 neighbors = 11/16 buckets) against brute
      // force, asserted >= 0.8 (measured 0.85-0.9 on sf0.001/sf0.01)
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val ann = SimilarityOps.lshTopK(e, q, 20, nPlanes = 4, maxProbeFlips = 2)
        .select(col("vec_id"))
      SimilarityOps.bruteForceTopK(e, q, 20)
        .join(ann, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) / 20.0).as("recall"))
        .select(lit(20).as("k"), lit(0.8).as("recall_floor"),
          (col("recall") >= 0.8).as("meets_floor"))
    },

    QueryDef("g_sim_ivf", oracleSqlSimTopK) { (s, dir) => // IVF top-k, probe-all setting: same
      // losslessness gate as g_sim_ann (green hash = cell assignment loses
      // no vector, rankings match brute force); the approximate regime is
      // gated by g_sim_ivf_recall. Assignment is a shuffle-free codegen
      // projection; the persisted partitionBy(cell) layout is spec'd in
      // DedupSimilaritySpec.
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val centroids = SimilarityOps.ivfCentroids(e, k = 16, nIters = 2)
      SimilarityOps.ivfTopK(e, centroids, q, 20, nProbe = 16)
    },

    QueryDef("g_sim_ivf_indexed",
      // probe-all over the persisted layout == brute force (same
      // losslessness contract as g_sim_ivf, now including write + pruned
      // directory read)
      oracleSqlSimTopK) { (s, dir) => // the PERSISTED IVF layout end-to-
      // end: write partitionBy(cell) directories, read back through the
      // probe-cell partition filter (directory pruning — the layout the
      // 100 TB deployment actually queries), probe-all so the brute-force
      // oracle certifies losslessness of write + pruned read + scoring
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val centroids = SimilarityOps.ivfCentroids(e, k = 16, nIters = 2)
      val path = scratchDir("ivf_idx") + "/index"
      SimilarityOps.writeIvfIndex(e, centroids, path)
      SimilarityOps.ivfTopKIndexed(s, path, centroids, q, 20, nProbe = 16)
    },

    QueryDef("g_sim_ivf_recall",
      "SELECT 20 AS k, CAST(0.8 AS DOUBLE) AS recall_floor, true AS meets_floor") { (s, dir) =>
      // recall@20 probing 8/16 cells,
      // asserted >= 0.8 (measured 0.8-0.9 on sf0.001/sf0.01)
      val e = Tables.embeddings(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
      val centroids = SimilarityOps.ivfCentroids(e, k = 16, nIters = 2)
      val ann = SimilarityOps.ivfTopK(e, centroids, q, 20, nProbe = 8)
        .select(col("vec_id"))
      SimilarityOps.bruteForceTopK(e, q, 20)
        .join(ann, Seq("vec_id"), "left_semi")
        .agg((count(lit(1)) / 20.0).as("recall"))
        .select(lit(20).as("k"), lit(0.8).as("recall_floor"),
          (col("recall") >= 0.8).as("meets_floor"))
    },

    QueryDef("g_dedup_normalized",
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                               ' +', ' ', 'g'))) AS canon_md5,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin) { (s, dir) =>
      // exact dedup over canonicalized
      // text (lowercase, strip punctuation, collapse whitespace) — catches
      // the case/punctuation variants raw-byte hashing misses
      TextOps.dedupNormalized(Tables.documents(s, dir)).orderBy(col("keep_id"))
    },

    QueryDef("g_ngram_vocab",
      """WITH sh AS (
        |  SELECT unnest(CASE WHEN len(t) >= 2
        |    THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS shingle
        |  FROM (SELECT string_split(text, ' ') AS t FROM documents))
        |SELECT shingle, count(*) AS n
        |FROM sh GROUP BY 1 ORDER BY n DESC, shingle LIMIT 50""".stripMargin) { (s, dir) =>
      // corpus bigram vocabulary: top-50 by
      // frequency (the statistics pass of tokenizer training)
      TextOps.ngramVocabulary(Tables.documents(s, dir), k = 2, topK = 50)
    },

    QueryDef("g_bpe_pairs",
      // adjacent character pairs weighted by word frequency; sum(BIGINT)
      // is HUGEINT in DuckDB -> cast back
      """WITH w AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0 GROUP BY word),
        |p AS (
        |  SELECT u.s1 AS s1, u.s2 AS s2, freq FROM (
        |    SELECT freq,
        |      unnest(list_transform(range(1, len(c)), i -> {'s1': c[i], 's2': c[i+1]})) AS u
        |    FROM (SELECT string_split(word, '') AS c, freq FROM w)))
        |SELECT s1, s2, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY s1, s2 ORDER BY cnt DESC, s1, s2 LIMIT 50""".stripMargin) { (s, dir) =>
      // BPE training, count phase: adjacent
      // symbol-pair frequencies from the initial character state, computed
      // over the DISTINCT-WORD table weighted by word frequency (the
      // corpus-compaction that makes every BPE iteration vocabulary-sized
      // at 100 TB); top-50 under a total (cnt DESC, s1, s2) order
      TextOps.bpePairCounts(TextOps.bpeWords(Tables.documents(s, dir)))
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(50)
    },

    QueryDef("g_bpe_step",
      // the same argmax the loop takes (cnt DESC, lexicographic), then the
      // greedy left-to-right merge replayed as a non-overlapping split on
      // the merged-pair substring with the merge token re-interleaved
      // between segment characters (string_split scans left to right
      // non-overlapping — exactly the fold's greedy pass; for the FIRST
      // merge all symbols are single characters, so every substring
      // occurrence is a pair adjacency and no false boundary exists),
      // then the identical pair recount over the new token lists
      """WITH w AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0 GROUP BY word),
        |p0 AS (
        |  SELECT u.s1 AS s1, u.s2 AS s2, freq FROM (
        |    SELECT freq,
        |      unnest(list_transform(range(1, len(c)), i -> {'s1': c[i], 's2': c[i+1]})) AS u
        |    FROM (SELECT string_split(word, '') AS c, freq FROM w))),
        |m AS (
        |  SELECT s1, s2, s1 || s2 AS ab FROM (
        |    SELECT s1, s2, CAST(sum(freq) AS BIGINT) AS cnt
        |    FROM p0 GROUP BY s1, s2 ORDER BY cnt DESC, s1, s2 LIMIT 1)),
        |toks AS (
        |  SELECT freq, list_filter(
        |    list_slice(fl, 1, len(fl) - 1), t -> t <> '') AS c FROM (
        |    SELECT freq,
        |      flatten(list_transform(
        |        string_split(word, ab),
        |        s -> list_append(string_split(s, ''), ab))) AS fl
        |    FROM w CROSS JOIN m)),
        |p1 AS (
        |  SELECT u.s1 AS s1, u.s2 AS s2, freq FROM (
        |    SELECT freq,
        |      unnest(list_transform(range(1, len(c)), i -> {'s1': c[i], 's2': c[i+1]})) AS u
        |    FROM toks))
        |SELECT s1, s2, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p1 GROUP BY s1, s2 ORDER BY cnt DESC, s1, s2 LIMIT 50""".stripMargin) { (s, dir) =>
      // BPE training, one full iteration:
      // argmax pair (cnt DESC, lexicographic tie-break — the loop's
      // deterministic rule) -> greedy left-to-right merge pass (a single
      // codegen'd array fold, map-only) -> recount. With g_bpe_pairs this
      // gates both halves of learnBpe's loop body; the oracle re-derives
      // the argmax independently and replays the merge via non-overlapping
      // split-and-interleave (provably the same greedy pass from the
      // character state).
      val words = TextOps.bpeWords(Tables.documents(s, dir))
      val top = TextOps.bpePairCounts(words)
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(1).collect()(0)
      TextOps.bpePairCounts(
          TextOps.bpeApplyMerge(words, top.getAs[String]("s1"), top.getAs[String]("s2")))
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(50)
    },

    QueryDef("g_bpe_encode",
      // per-word token count after the argmax merge (same split-interleave
      // replay), then the per-doc aggregation over exploded corpus words
      """WITH w AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0 GROUP BY word),
        |p0 AS (
        |  SELECT u.s1 AS s1, u.s2 AS s2, freq FROM (
        |    SELECT freq,
        |      unnest(list_transform(range(1, len(c)), i -> {'s1': c[i], 's2': c[i+1]})) AS u
        |    FROM (SELECT string_split(word, '') AS c, freq FROM w))),
        |m AS (
        |  SELECT s1 || s2 AS ab FROM (
        |    SELECT s1, s2, CAST(sum(freq) AS BIGINT) AS cnt
        |    FROM p0 GROUP BY s1, s2 ORDER BY cnt DESC, s1, s2 LIMIT 1)),
        |tokn AS (
        |  SELECT word, len(list_filter(
        |    list_slice(fl, 1, len(fl) - 1), t -> t <> '')) AS n_toks FROM (
        |    SELECT word,
        |      flatten(list_transform(
        |        string_split(word, ab),
        |        s -> list_append(string_split(s, ''), ab))) AS fl
        |    FROM w CROSS JOIN m)),
        |d AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) > 0)
        |SELECT doc_id, CAST(sum(n_toks) AS BIGINT) AS n_tokens, count(*) AS n_words
        |FROM d JOIN tokn USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // the encode path end-to-end with the
      // argmax merge: per-doc token counts after the merge pass — distinct
      // words encoded once, corpus joins the word->tokens map ONCE (the
      // shape that holds at any merge count; one merge keeps the oracle
      // exactly replayable from the character state)
      val docs = Tables.documents(s, dir)
      val top = TextOps.bpePairCounts(TextOps.bpeWords(docs))
        .orderBy(col("cnt").desc, col("s1"), col("s2"))
        .limit(1).collect()(0)
      TextOps.bpeEncode(docs, Seq((top.getAs[String]("s1"), top.getAs[String]("s2"))))
        .orderBy(col("doc_id"))
    },

    QueryDef("g_unigram_step", unigramStepOracleSql) { (s, dir) =>
      // unigram-LM (SentencePiece-style)
      // tokenizer training, one full hard-EM iteration: substring seed
      // vocabulary (occurrence-counted over the distinct-word table) ->
      // bounded cap (top-64 by count, plus every single character so
      // segmentation is total) -> Viterbi E-step under integer nll units
      // -> re-estimated piece counts. The oracle re-derives the seed and
      // the cap, then replays the E-step by brute-force enumeration of
      // EVERY segmentation per word (recursive CTE) with the kernel's
      // exact (cost, sep-joined-path) tie-break — the DP must equal it.
      val docs = Tables.documents(s, dir)
      val vocab = TextOps.unigramCapVocab(TextOps.unigramSeed(docs, maxPieceLen = 4))
      TextOps.unigramEmStep(docs, vocab)
        .orderBy(col("cnt").desc, col("piece")).limit(50)
    },

    QueryDef("g_unigram_prune", unigramPruneOracleSql) { (s, dir) => // the prune half of the
      // SentencePiece iteration: multi-char seed pieces ranked by the
      // likelihood DROP if removed with single-character fallback
      // (loss = cnt * (sum char nll - piece nll), exact integer units),
      // top-32 kept. Exact to Kudo 2018's alternative-segmentation loss
      // whenever the best alternative IS the char split. The oracle
      // replays seed, units, the char join, and the rank.
      TextOps.unigramPrune(
          TextOps.unigramSeed(Tables.documents(s, dir), maxPieceLen = 4),
          keep = 32)
        .orderBy(col("rank"))
    },

    QueryDef("g_unigram_encode", unigramEncodeOracleSql) { (s, dir) => // the unigram encode path
      // end-to-end (bpeEncode's contract for the OTHER trainer): seed →
      // cap → per-distinct-word Viterbi segmentation under the trained
      // integer nll units → the corpus joins the word→token-count map
      // ONCE. The oracle re-derives the vocabulary, brute-force-
      // enumerates every word's best path, and replays the occurrence
      // join — so a drifted unit or tie-break moves some word's token
      // count and flips a doc row.
      val docs = Tables.documents(s, dir)
      val words = graft.operators.Checkpoints.pin(
        TextOps.bpeWords(docs).select(col("word"), col("freq")),
        reliable = false)
      val vocab = TextOps.unigramCapVocab(
        TextOps.unigramSeedFromWords(words, maxPieceLen = 4))
      TextOps.unigramEncodeFromWords(docs, words, vocab)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_unigram_pipeline", unigramPipelineOracleSql) { (s, dir) => // the tokenizer trainer
      // composed end-to-end (the g_pipeline_e2e discipline): seed → cap
      // → one hard-EM step → prune to the top-16 multi-char pieces (+
      // the E-step's single characters, so coverage stays total where it
      // can) → re-encode the corpus under the PRUNED vocabulary. The
      // distinct-word frame is pinned once and shared by seed, EM, and
      // encode — the corpus pays ONE groupBy and ONE join, end to end.
      // The oracle replays every stage nested (two segmentation
      // enumerations under two vocabularies), so a drifted unit,
      // tie-break, or prune rank anywhere moves some doc's token count.
      val docs = Tables.documents(s, dir)
      val words = graft.operators.Checkpoints.pin(
        TextOps.bpeWords(docs).select(col("word"), col("freq")),
        reliable = false)
      val vocab0 = TextOps.unigramCapVocab(TextOps.unigramSeedFromWords(words))
      val em = graft.operators.Checkpoints.pin(
        TextOps.unigramEmStepFromWords(words, vocab0), reliable = false)
      // a character the E-step never used is absent from em — a word
      // needing it encodes to 0 tokens (visible, the kernel contract)
      val vocab = TextOps.unigramPrune(em, keep = 16)
        .select(col("piece"), col("cnt"))
        .unionByName(em.filter(length(col("piece")) === 1))
        .distinct()
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      TextOps.unigramEncodeFromWords(docs, words, vocab)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_unigram_train", unigramTrainOracleSql) { (s, dir) =>
      // the trainer run to CONVERGENCE
      // discipline (verdict r17 #4): SentencePiece's outer loop
      // alternating hard-EM and prune — seed → cap(64) → EM₁ → prune to
      // 16 multi-char pieces (+ EM₁'s single chars) → EM₂ under the
      // PRUNED vocabulary's re-estimated units → prune to 8. Two full EM
      // rounds gated: the oracle nests BOTH brute-force segmentation
      // enumerations (the pipeline row's materializations) and replays
      // the final loss rank, so a drifted unit, count, or tie-break in
      // EITHER round moves a rank. Output: the final trained vocabulary
      // with its loss evidence.
      val words = graft.operators.Checkpoints.pin(
        TextOps.bpeWords(Tables.documents(s, dir))
          .select(col("word"), col("freq")),
        reliable = false)
      TextOps.unigramTrainFromWords(words, keeps = Seq(16, 8))
        .orderBy(col("rank"))
    },

    QueryDef("q_stream_unigram",
      // the streamed count maintainer serves the SAME trainer (one truth)
      unigramStepOracleSql) { (s, dir) => // the unigram trainer's streamed
      // corpus face: the word-frequency frame is the ONE corpus-sized
      // aggregation of the whole trainer, and it is exactly the unigram
      // count frame the KN family already maintains incrementally — so
      // an AvailableNow run of knCountsStream + the fold serve the
      // words, and seed/cap/EM run vocabulary-sized on top. Must be
      // bit-equal to the batch g_unigram_step (shared oracle hash).
      val out = scratchDir("q_stream_unigram")
      val src = stream(s, dir, "documents")
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .knCountsStream(src, s"$out/idx", s"$out/ckpt"))
      graft.streaming.StreamingOps.compactKnCounts(s, s"$out/idx")
      val words = graft.streaming.StreamingOps.readKnCounts(s, s"$out/idx")._1
        .filter(length(col("w")) > 0) // bpeWords' empty-token filter
        .select(col("w").as("word"), col("c").as("freq"))
      val vocab = TextOps.unigramCapVocab(
        TextOps.unigramSeedFromWords(words, maxPieceLen = 4))
      TextOps.unigramEmStepFromWords(words, vocab)
        .orderBy(col("cnt").desc, col("piece")).limit(50)
    },

    QueryDef("g_sim_batch",
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT probe_id, e.vec_id,
        |         floor((list_dot_product(CAST(e.embedding AS DOUBLE[]), pv) /
        |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |                sqrt(list_dot_product(pv, pv)))) * 10000) / 10000 AS sim
        |  FROM embeddings e JOIN probes ON e.vec_id <> probe_id),
        |ranked AS (
        |  SELECT probe_id, vec_id, sim,
        |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |SELECT probe_id, vec_id, sim, rank FROM ranked
        |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin) { (s, dir) =>
      // many-queries-at-once exact top-k: the
      // probe set broadcasts (constant-size), scoring is a broadcast
      // nested-loop + per-probe window — the batch retrieval path
      SimilarityOps.batchTopK(
          Tables.embeddings(s, dir),
          Tables.embeddings(s, dir).filter(col("vec_id") < 5), k = 10)
        .select(col("probe_id"), col("vec_id"), col("sim"), col("rank"))
        .orderBy(col("probe_id"), col("rank"))
    },

    QueryDef("g_rag_retrieve",
      // the g_sim_batch truth (3 probes, rank <= 5) joined to documents
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |  FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT probe_id, e.vec_id,
        |         floor((list_dot_product(CAST(e.embedding AS DOUBLE[]), pv) /
        |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |                sqrt(list_dot_product(pv, pv)))) * 10000) / 10000 AS sim
        |  FROM embeddings e JOIN probes ON e.vec_id <> probe_id),
        |ranked AS (
        |  SELECT probe_id, vec_id, sim,
        |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |SELECT probe_id, rank, d.doc_id, sim, d.lang, d.n_chars
        |FROM ranked JOIN documents d ON ranked.vec_id = d.doc_id
        |WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin) { (s, dir) =>
      // the RAG retrieve-then-read
      // composition: ANN top-k over the embedding column, hits joined
      // back to the documents table for the payload — embeddings and
      // documents share ids in the fixtures. The hit set is k×|probes|
      // (bounded), so AQE broadcasts it into the corpus join; at scale
      // the retrieval side swaps to the IVF/LSH index (g_sim_ivf_indexed).
      val hits = SimilarityOps.batchTopK(
        Tables.embeddings(s, dir),
        Tables.embeddings(s, dir).filter(col("vec_id") < 3), k = 5)
      hits.join(Tables.documents(s, dir), hits("vec_id") === col("doc_id"))
        .select(col("probe_id"), col("rank"), col("doc_id"), col("sim"),
          col("lang"), col("n_chars"))
        .orderBy(col("probe_id"), col("rank"))
    },

    QueryDef("g_text_stats",
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(CAST(sum(n_chars) AS BIGINT) AS DOUBLE) / count(*) AS avg_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, dir) =>
      // corpus stats per (lang, source)
      TextOps.corpusStats(Tables.documents(s, dir)).orderBy(col("lang"), col("source"))
    },

    QueryDef("g_token_counts",
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
        |       CAST(len(string_split_regex(text, '\s+')) +
        |            length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS INT) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) => // per-doc token counting
      TextOps.tokenCounts(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    QueryDef("g_token_commonness",
      // all-integer until the final exact-sum/count division
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(min(c) AS BIGINT) AS min_freq,
        |       CAST(sum(c) AS BIGINT) AS sum_freq,
        |       CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / count(*) AS mean_freq
        |FROM toks JOIN freq USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // corpus-frequency quality profile
      // (TF side of an LM-score filter): corpus freq table -> skew-prone
      // token join back -> per-doc integer stats
      TextOps.tokenCommonness(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    QueryDef("g_lang_id",
      """SELECT doc_id, lang AS lang_label,
        |       CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |                ['the','a','of','and','to','in','is'])) AS INT) AS en_stopword_hits,
        |       floor((length(regexp_replace(text, '[^aeiou]', '', 'g')) /
        |             CAST(length(text) AS DOUBLE)) * 10000) / 10000 AS vowel_ratio,
        |       CASE WHEN len(list_intersect(list_distinct(string_split(text, ' ')),
        |                ['the','a','of','and','to','in','is'])) >= 2
        |            THEN 'en' ELSE 'other' END AS lang_guess
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // n-gram-heuristic language id
      TextOps.langId(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    QueryDef("g_quality",
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |       floor((length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) /
        |             CAST(length(text) AS DOUBLE)) * 10000) / 10000 AS punct_ratio,
        |       floor(least(greatest(
        |         least(len(string_split(text, ' ')) / 64.0, 1.0) * 0.4 +
        |         (len(list_distinct(string_split(text, ' '))) /
        |          CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.4 +
        |         (1.0 - length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) /
        |                CAST(length(text) AS DOUBLE)) * 0.2,
        |         0.0), 1.0) * 10000) / 10000 AS quality
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) => // per-doc quality scoring
      TextOps.qualityScores(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    QueryDef("g_sketch_distinct",
      // exact side recomputed; within_bound is the deterministic HLL
      // error invariant (same pattern as the recall gates)
      """SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS n_exact,
        |       true AS within_bound
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) => // HLL++ vocabulary cardinality,
      // invariant-gated: the sketch estimate must sit within 3x the
      // requested rsd of the exact count (deterministic — HLL is
      // hash-based, so this is a stable property of the corpus, like the
      // recall gates). Exact counts cross the oracle; the sketch's scale
      // win is its fixed-size map-side partial state.
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("lang"), explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
      val exact = toks.groupBy(col("lang")).agg(countDistinct(col("tok")).as("n_exact"))
      TextOps.tokenCardinality(docs, rsd = 0.05)
        .join(exact, "lang")
        .select(col("lang"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") / col("n_exact") <= 0.15)
            .as("within_bound"))
        .orderBy(col("lang"))
    },

    QueryDef("g_quality_rules",
      """WITH q AS (
        |  SELECT doc_id,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         (length(text) - (len(string_split(text, ' ')) - 1))
        |           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mtl,
        |         length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
        |           / CAST(length(text) AS DOUBLE) AS punct,
        |         len(list_intersect(list_distinct(string_split(text, ' ')),
        |             ['the','a','of','and','to','in','is'])) AS hits
        |  FROM documents)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |       floor(mtl * 10000) / 10000 AS mean_tok_len,
        |       (n_tokens >= 30 AND n_tokens <= 80) AS r_len,
        |       (mtl >= 3.8 AND mtl <= 4.6) AS r_tok_len,
        |       (punct <= 0.2) AS r_punct,
        |       (hits >= 2) AS r_stopword,
        |       ((n_tokens >= 30 AND n_tokens <= 80)
        |        AND (mtl >= 3.8 AND mtl <= 4.6)
        |        AND (punct <= 0.2) AND (hits >= 2)) AS kept
        |FROM q ORDER BY doc_id""".stripMargin) { (s, dir) => // Gopher/C4-style rule filter:
      // per-rule audit flags + kept conjunction, one map-only pass
      TextOps.qualityRules(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    QueryDef("g_redact",
      // sequential replace; each pattern counted against the text AFTER the
      // earlier patterns applied (exactly the spans masked)
      """WITH r1 AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\bcustomer\b')) AS INT) AS c1,
        |    regexp_replace(text, '\bcustomer\b', '<NAME>', 'g') AS t1 FROM documents),
        |r2 AS (SELECT doc_id, c1,
        |    CAST(len(regexp_extract_all(t1, '[0-9]+')) AS INT) AS c2,
        |    regexp_replace(t1, '[0-9]+', '<NUM>', 'g') AS t2 FROM r1),
        |r3 AS (SELECT doc_id, c1, c2,
        |    CAST(len(regexp_extract_all(t2, '\bkey\b')) AS INT) AS c3,
        |    regexp_replace(t2, '\bkey\b', '<KEY>', 'g') AS t3 FROM r2)
        |SELECT doc_id, CAST(c1 + c2 + c3 AS INT) AS n_redactions, t3 AS redacted
        |FROM r3 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // PII-style regex scrubbing: mask term list
      // + digit runs, count redactions; map-only codegen pass
      TextOps.redact(Tables.documents(s, dir), TextOps.RedactPatterns).orderBy(col("doc_id"))
    },

    QueryDef("g_distinctive_terms",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |ranked AS (SELECT doc_id, tok AS term, tf, df,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |         ORDER BY df ASC, tf DESC, tok ASC) AS INT) AS rank
        |  FROM tf JOIN df USING (tok))
        |SELECT doc_id, term, tf, df, rank FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
      // per-doc top-3 TF-IDF-shape
      // terms with exact integer ranking (df asc, tf desc, term asc)
      TextOps.distinctiveTerms(Tables.documents(s, dir), perDoc = 3)
        .orderBy(col("doc_id"), col("rank"))
    },

    QueryDef("g_chunk_windows",
      // range(0, len, 24) == sequence(0, len-1, 24); list_slice is 1-based
      // inclusive-both-ends and clamps, like Spark slice(arr, start, len)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS st FROM t)
        |SELECT doc_id, CAST(st // 24 AS INT) AS chunk_idx,
        |       CAST(len(list_slice(toks, st + 1, st + 32)) AS INT) AS n_chunk_tokens,
        |       array_to_string(list_slice(toks, st + 1, st + 32), ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      // context-window/RAG chunking:
      // 32-token windows every 24 tokens (8-token overlap), map-only
      TextOps.chunkTokens(Tables.documents(s, dir), chunkSize = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    QueryDef("g_para_dedup",
      // same chunking idiom as g_chunk_windows (stride 8, width 8), then
      // first-occurrence-wins over (doc_id, idx) per distinct passage and
      // ordered reassembly; list(... ORDER BY) FILTER replays the
      // kept-only ordered collect
      oracleSqlParaDedup) { (s, dir) => // CCNet/C4-style paragraph dedup with
      // document reconstruction: split every doc into non-overlapping
      // 8-token passages (chunkTokens at stride == chunkSize), drop all but
      // the corpus-wide first occurrence of each distinct passage, and
      // reassemble each doc from its survivors in order — duplicated docs
      // come back gutted, unique docs come back verbatim. Row-level gate
      // over every document (clean_text + kept/dropped counts).
      DedupOps.paragraphDedup(
          TextOps.chunkTokens(Tables.documents(s, dir), chunkSize = 8, stride = 8),
          idxCol = "chunk_idx", paraCol = "chunk_text")
        .orderBy(col("doc_id"))
    },

    QueryDef("g_para_dedup_incr",
      // the g_para_dedup idiom restricted to the increment, with a
      // NOT-IN-corpus condition on top of first-occurrence-wins
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS st FROM t),
        |p AS (SELECT doc_id, CAST(st // 8 AS INT) AS idx,
        |             array_to_string(list_slice(toks, st + 1, st + 8), ' ') AS para
        |      FROM s),
        |ip AS (SELECT * FROM p WHERE doc_id % 5 = 0),
        |cp AS (SELECT DISTINCT para FROM p WHERE doc_id % 5 <> 0),
        |r AS (SELECT doc_id, idx, para,
        |             row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
        |      FROM ip),
        |k AS (SELECT doc_id, idx, para,
        |             (rn = 1 AND para NOT IN (SELECT para FROM cp)) AS kept
        |      FROM r)
        |SELECT doc_id,
        |       coalesce(array_to_string(list(para ORDER BY idx) FILTER (WHERE kept), ' '), '') AS clean_text,
        |       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
        |       CAST(count(*) FILTER (WHERE NOT kept) AS BIGINT) AS n_dropped
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // incremental paragraph dedup:
      // the daily landing (doc_id % 5 == 0) deduped against the historical
      // corpus' paragraphs AND itself, reassembled — the corpus is never
      // rewritten. Same chunking as g_para_dedup.
      val docs = Tables.documents(s, dir)
      def paras(d: org.apache.spark.sql.DataFrame) =
        TextOps.chunkTokens(d, chunkSize = 8, stride = 8)
      DedupOps.paragraphDedupAgainst(
          paras(docs.filter(col("doc_id") % 5 === 0)),
          paras(docs.filter(col("doc_id") % 5 =!= 0)),
          idxCol = "chunk_idx", paraCol = "chunk_text")
        .orderBy(col("doc_id"))
    },

    QueryDef("g_cooccur_lift",
      // HUGEINT numerator mirrors the Spark DECIMAL(38,0) cast; // is floor
      // division on positives, same as Spark DIV
      """WITH toks AS (SELECT DISTINCT doc_id, tok FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |pairs AS (SELECT a.tok AS tok1, b.tok AS tok2, CAST(count(*) AS BIGINT) AS c_xy
        |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents)
        |SELECT tok1, tok2, c_xy, dx.c AS c_x, dy.c AS c_y,
        |       CAST(CAST(c_xy AS HUGEINT) * nn * 10000
        |            // (CAST(dx.c AS HUGEINT) * dy.c) AS BIGINT) AS lift_bp
        |FROM pairs
        |JOIN df dx ON dx.tok = pairs.tok1
        |JOIN df dy ON dy.tok = pairs.tok2
        |CROSS JOIN n
        |ORDER BY lift_bp DESC, tok1, tok2 LIMIT 50""".stripMargin) { (s, dir) =>
      // token-pair association mining:
      // top-50 co-occurring pairs by exact integer lift (basis points)
      TextOps.cooccurrenceLift(Tables.documents(s, dir), topK = 50)
    },

    QueryDef("g_quality_logit",
      // identical left-assoc multiply-add chain over the same features.
      // n_tok/hits are CAST to DOUBLE here: DuckDB parses 0.01/-1.0 as
      // DECIMAL and would fold decimal*integer EXACTLY, converting to
      // double mid-chain at a different point than Spark's all-double
      // arithmetic (one-ulp floor flips, seen at sf0.001 doc 14); with
      // double operands every step is the same IEEE op in both engines
      """WITH f AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        |         (length(text) - (len(string_split(text, ' ')) - 1)) /
        |           CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_tok_len,
        |         length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) /
        |           CAST(length(text) AS DOUBLE) AS punct,
        |         CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
        |             ['the', 'a', 'of', 'and', 'to', 'in', 'is'])) AS DOUBLE) AS hits
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         floor((-1.0 + 0.01 * n_tok + 0.2 * mean_tok_len
        |                + -8.0 * punct + 0.15 * hits) * 10000) / 10000 AS logit
        |  FROM f)
        |SELECT doc_id, logit, logit >= 0.6 AS kept
        |FROM s ORDER BY doc_id""".stripMargin) { (s, dir) => // model-based quality filter: a
      // logistic classifier over the rule features with FIXTURE
      // coefficients (stand-ins for a trained model's weights, inlined as
      // literals the way production would broadcast them) — scored as the
      // raw logit (monotone-equivalent to sigmoid, bit-exact cross-engine),
      // kept = floored logit >= 0.6. Map-only codegen projection.
      TextOps.qualityLogit(Tables.documents(s, dir),
          wNTokens = 0.01, wMeanTokLen = 0.2, wPunct = -8.0, wStopword = 0.15,
          bias = -1.0, threshold = 0.6)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_logit_train", logitTrainOracleSql) { (s, dir) => // TRAIN the quality/language
      // classifier in-engine — the missing half of g_quality_logit
      // (which scores fixed weights): full-batch logistic GD over
      // deterministic count-ratio features (bias, stopword ratio, TTR,
      // length), labels lang='en'. Bit-exact cross-engine replay via
      // integer-unit weights, per-row gradient contributions floored to
      // 1e-8 units and summed as exact decimals, power-of-two learning
      // rate applied by double floor (no DIV-direction mismatch). The
      // oracle replays the ENTIRE descent as unrolled CTEs — a drifted
      // gradient in any step flips every logit.
      TextOps.logitTrainScore(Tables.documents(s, dir),
          steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault))
        .orderBy(col("doc_id"))
    },

    QueryDef("q_stream_logit",
      // the streamed feature landing + periodic retrain serves the SAME
      // descent — one truth, one hash (LogitSpec pins the fold semantics)
      logitTrainOracleSql) { (s, dir) => // maintained quality classifier,
      // oracle side: an AvailableNow run of logitStream lands the slim
      // deterministic feature deltas and retrains on refresh — the
      // served scored corpus must be bit-equal to the batch
      // g_logit_train (shared oracle hash). Full-batch GD is a global
      // function of the corpus (the UniMax-manifest argument), so the
      // maintenance contract is periodic O(corpus-features) retrain;
      // staleness/replay/lineage/drift are LogitSpec's job.
      val out = scratchDir("q_stream_logit")
      val src = stream(s, dir, "documents")
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .logitStream(src, s"$out/idx", s"$out/ckpt",
          steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)))
      graft.streaming.StreamingOps.readLogitScores(s, s"$out/idx")
        .orderBy(col("doc_id"))
    },

    QueryDef("g_quality_unigram",
      // per-token logs quantized to DECIMAL(18,8) BEFORE the sum on both
      // sides (order-free exact sum), mean floored at 4 digits
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM freq)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       floor((CAST(sum(CAST(ln(CAST(c AS DOUBLE) / total) AS DECIMAL(18,8)))
        |                   AS DOUBLE) / count(*)) * 10000) / 10000 AS avg_logprob
        |FROM toks JOIN freq USING (tok) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // corpus unigram-LM quality score
      // (KenLM-style mean token log-prob, decimal-quantized for parity)
      TextOps.unigramLogProb(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    QueryDef("g_quality_bigram",
      // pairs via 1-based list indexing (range(1, len) = positions of
      // bigram left-sides); context count = bigram left-side count, so
      // edge effects cancel exactly as in the Spark window-lead pairs
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |pairs AS (
        |  SELECT doc_id, pr[1] AS w1, pr[2] AS w2
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, len(ts)), i -> [ts[i], ts[i + 1]])) AS pr
        |        FROM t)),
        |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM pairs GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM pairs GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       floor((CAST(sum(CAST(ln(CAST(c2 AS DOUBLE) / c1) AS DECIMAL(18,8)))
        |                   AS DOUBLE) / count(*)) * 10000) / 10000 AS avg_logprob
        |FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // bigram-LM quality score (CCNet-
      // style perplexity filter one Markov order up): per-doc mean
      // log P(w2|w1), MLE pair/context counts, decimal quantize-then-sum
      TextOps.bigramLogProb(Tables.documents(s, dir)).orderBy(col("doc_id"))
    },

    QueryDef("g_kn_score", knScoreOracleSql) { (s, dir) => // interpolated Kneser–Ney bigram
      // scoring, the CROSS-CORPUS form MLE can't do (unseen pair ⇒
      // log 0): LM estimated on the even-id half, the odd-id half scored
      // under it — discounted seen mass + continuation-probability
      // backoff, <unk> cut at minCount, exact-binary D = 0.75, ln
      // decimal-quantized before the multiplicity-weighted exact sum.
      // Model joins are type-count-sized; docs collapse to distinct
      // (doc, pair) with multiplicities before touching the model.
      val d = Tables.documents(s, dir)
      TextOps.knScoreAgainst(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          minCount = GraftConf.int(s, GraftConf.KnMinCount, GraftConf.KnMinCountDefault).toLong)
        .orderBy(col("doc_id"))
    },

    QueryDef("q_stream_kn",
      // the streamed count landing + fold serves the SAME model — one
      // truth, one hash (KnStreamSpec pins the fold semantics)
      knScoreOracleSql) { (s, dir) => // streamed Kneser–Ney count
      // maintenance, oracle side: an AvailableNow run of knCountsStream
      // lands the LM half's raw unigram/pair type counts as
      // source-tagged deltas, compactKnCounts folds both roots, and
      // scoring the odd half against the FOLDED counts must be bit-equal
      // to the batch g_kn_score (shared oracle hash) — the <unk> cut
      // applies at model-read time, so the stream never needs to know
      // minCount. Replay/lineage/fold semantics are KnStreamSpec's job.
      val out = scratchDir("q_stream_kn")
      val src = stream(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .knCountsStream(src, s"$out/idx", s"$out/ckpt"))
      graft.streaming.StreamingOps.compactKnCounts(s, s"$out/idx")
      val (uni, pairs) = graft.streaming.StreamingOps.readKnCounts(s, s"$out/idx")
      TextOps.knScore(
          Tables.documents(s, dir).filter(col("doc_id") % 2 === 1), uni, pairs,
          minCount = GraftConf.int(s, GraftConf.KnMinCount, GraftConf.KnMinCountDefault).toLong)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_kn3_score", kn3ScoreOracleSql) { (s, dir) => // interpolated Kneser–Ney TRIGRAM
      // scoring — the standard KenLM order: discounted trigram mass
      // backing off through the bigram-continuation level to the
      // unigram-continuation floor, every statistic count algebra over
      // the mapped trigram types. Same cross-corpus split and exactness
      // discipline as g_kn_score; the oracle replays the full
      // three-level chain.
      val d = Tables.documents(s, dir)
      TextOps.kn3ScoreAgainst(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          minCount = GraftConf.int(s, GraftConf.KnMinCount, GraftConf.KnMinCountDefault).toLong)
        .orderBy(col("doc_id"))
    },

    QueryDef("q_stream_kn3", kn3ScoreOracleSql) { (s, dir) => // streamed trigram-KN count
      // maintenance, oracle side: kn3CountsStream lands the LM half's
      // raw unigram + trigram type counts, compactKn3Counts folds both
      // roots, and scoring the odd half against the folded counts must
      // be bit-equal to the batch g_kn3_score (shared oracle hash) —
      // the bigram-continuation level derives from the trigram types at
      // read time, so the stream maintains exactly two frames.
      val out = scratchDir("q_stream_kn3")
      val src = stream(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .kn3CountsStream(src, s"$out/idx", s"$out/ckpt"))
      graft.streaming.StreamingOps.compactKn3Counts(s, s"$out/idx")
      val (uni, tri) = graft.streaming.StreamingOps.readKn3Counts(s, s"$out/idx")
      TextOps.kn3Score(
          Tables.documents(s, dir).filter(col("doc_id") % 2 === 1), uni, tri,
          minCount = GraftConf.int(s, GraftConf.KnMinCount, GraftConf.KnMinCountDefault).toLong)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_logit_eval", logitEvalOracleSql) { (s, dir) =>
      // the train→evaluate loop in one DAG:
      // the g_logit_train descent reduced to exact confusion counts at
      // the logit-0 boundary + precision/recall/F1 (single-division
      // forms). The oracle replays the WHOLE pipeline — descent included
      // — so a drifted gradient anywhere flips the metrics row.
      TextOps.logitConfusion(TextOps.logitTrainScore(Tables.documents(s, dir),
        steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)))
    },

    QueryDef("g_logit_auc", logitAucOracleSql) { (s, dir) => // threshold-free evaluation of the
      // trained classifier: EXACT tie-aware ROC-AUC (Mann–Whitney over
      // per-score-type counts, mid-rank ties kept integer by the ×2,
      // one final double division). The running below-count runs
      // two-phase (range offsets over the bounded range frame), so no
      // corpus-wide single-partition window exists at any score
      // cardinality. The oracle replays the whole descent AND the rank
      // statistic.
      TextOps.logitAuc(TextOps.logitTrainScore(Tables.documents(s, dir),
        steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)))
    },

    QueryDef("g_logit_calibration", logitCalibrationOracleSql) { (s, dir) =>
      // reliability diagram of the
      // trained classifier: fixed-width logit bins (rank-free — ntile
      // ties are engine-dependent), per bin exact counts, positive
      // fraction and mean logit (1e-6-unit integer sums, one division).
      // The frac_pos-vs-sigmoid(mean_logit) drift is the Platt signal.
      TextOps.logitCalibration(TextOps.logitTrainScore(Tables.documents(s, dir),
          steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)))
        .orderBy(col("bin"))
    },

    QueryDef("g_nb_priors", nbPriorsOracleSql) { (s, dir) => // priors-only NB ablation: the
      // majority-class baseline evaluated with the same classEval pivot
      // as g_nb_eval — the floor the token model's macro-F1 lift is
      // measured from (same train/test split, same tie-break).
      val d = Tables.documents(s, dir)
      val scored = TextOps.nbPriorsScore(
        d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0))
      TextOps.classEval(scored
          .join(d.select(col("doc_id"), col("lang").as("label")), Seq("doc_id")))
        .orderBy(col("class"))
    },

    QueryDef("g_doremi_weights", doremiOracleSql) { (s, dir) => // DoReMi-shaped mixture
      // reweighting: per-domain mean logistic loss of the trained
      // classifier (quantized-decimal evidence), then T exponentiated-
      // gradient steps over the bounded DOMAIN frame — high-loss domains
      // gain weight (the group-DRO direction). The oracle replays the
      // descent AND the EG iteration; every transcendental is quantized
      // before its order-free sum.
      val steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)
      val scored = TextOps.logitTrainScore(Tables.documents(s, dir), steps = steps)
      CurationOps.doremiWeights(
          TextOps.logitLossPerDoc(scored)
            .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
              Seq("doc_id")),
          eta = 1.0, steps = steps)
        .orderBy(col("source"))
    },

    QueryDef("g_pref_pairs", prefPairsOracleSql) { (s, dir) => // DPO-style preference-pair
      // assembly: per source, the i-th best document by the quality
      // score (quantized to exact 1e-4 longs) pairs with the i-th worst
      // as (chosen, rejected) — top-vs-bottom construction for
      // preference training. Ranks via the two-phase grouped-rank
      // machinery (mega-domain-safe); the strict score inequality drops
      // equal-score, self, and reflected pairs. Oracle replays the
      // single-window formulation the two-phase rank is spec-pinned to
      // equal.
      val scored = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        floor(graft.functions.TextFns.qualityScore(col("text")) * lit(1e4))
          .cast("long").as("score"))
      CurationOps.preferencePairs(scored)
        .orderBy(col("source"), col("pair_rank"))
    },

    QueryDef("q_stream_pref",
      // the streamed maintainer re-pairs the SAME construction
      prefPairsOracleSql) { (s, dir) => // maintained preference pairs,
      // oracle side: an AvailableNow run of prefPairsStream lands the
      // slim (doc_id, source, score) evidence and re-pairs on refresh —
      // the served pairs must be bit-equal to the batch g_pref_pairs
      // (shared oracle hash). Pairing is a global function of each
      // domain's ranking, so the scheduleBatch periodic-re-derive
      // contract applies.
      val out = scratchDir("q_stream_pref")
      val src = stream(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          floor(graft.functions.TextFns.qualityScore(col("text")) * lit(1e4))
            .cast("long").as("score"))
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .prefPairsStream(src, s"$out/idx", s"$out/ckpt"))
      graft.streaming.StreamingOps.readPrefPairs(s, s"$out/idx")
        .orderBy(col("source"), col("pair_rank"))
    },

    QueryDef("g_logit_platt", logitPlattOracleSql) { (s, dir) => // Platt scaling — the calibration
      // FIX for what g_logit_calibration measures: a second 1-d logistic
      // descent (bias + raw logit) over the first descent's scores, both
      // from the same GD seam. The oracle nests one unrolled descent
      // inside another; a drifted gradient in EITHER flips every
      // calibrated score.
      val steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)
      val f = TextOps.logitTrainScore(Tables.documents(s, dir), steps = steps)
        .select(col("doc_id"), col("label").as("y"),
          lit(1.0).as("x0"), col("logit").as("x1"))
      TextOps.logitScoreFeatures(f,
          TextOps.logitTrain(f, xCols = Seq("x0", "x1"), steps = steps),
          xCols = Seq("x0", "x1"))
        .orderBy(col("doc_id"))
    },

    QueryDef("g_quality_loop", qualityLoopOracleSql) { (s, dir) => // the calibrated quality loop
      // composed in ONE DAG (the g_pipeline_e2e discipline): train the
      // quality classifier -> Platt-calibrate its scores (the
      // g_logit_platt descent-over-a-descent) -> keep docs whose
      // CALIBRATED log-odds clear 0 (probability 0.5 on the calibrated
      // scale — the boundary calibration actually moved) -> report the
      // kept-vs-raw release delta per source (cardDelta). The oracle
      // replays ALL four stages nested, so a drifted gradient in either
      // descent moves the decision boundary and flips the kept set.
      val steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)
      val d = Tables.documents(s, dir)
      val scored = TextOps.logitTrainScore(d, steps = steps)
      val f = scored.select(col("doc_id"), col("label").as("y"),
        lit(1.0).as("x0"), col("logit").as("x1"))
      val cal = TextOps.logitScoreFeatures(f,
        TextOps.logitTrain(f, xCols = Seq("x0", "x1"), steps = steps),
        xCols = Seq("x0", "x1"))
      val kept = d.join(cal.filter(col("logit") >= lit(0.0)).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      CurationOps.cardDelta(before = d, after = kept)
        .orderBy(col("source"))
    },

    QueryDef("g_bt_fit", btFitOracleSql) { (s, dir) => // Bradley–Terry reward fit over the DPO
      // pairs — the consumer g_pref_pairs was missing: P(chosen >
      // rejected) = sigma(w * (x_c - x_r)), so the SAME gdDescend seam
      // trains on the pairwise feature DIFFERENCES with y = 1 (the bias
      // diff is identically 0 and its weight never moves), and the
      // pairwise-accuracy eval is the classEval pivot over
      // sign-of-logit predictions. The oracle replays pairing, feature
      // diffs, the whole descent, and the pivot.
      val steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)
      val d = Tables.documents(s, dir)
      val pairs = CurationOps.preferencePairs(
        d.select(col("doc_id"), col("source"),
          floor(graft.functions.TextFns.qualityScore(col("text")) * lit(1e4))
            .cast("long").as("score")))
      val feats = graft.operators.Checkpoints.pin(
        TextOps.logitFeatures(d)
          .select(col("doc_id") +: TextOps.LogitXCols.map(col): _*),
        reliable = false)
      val diffs = graft.operators.Checkpoints.pin(
        pairs
          .join(feats.select(col("doc_id").as("chosen_id") +:
            TextOps.LogitXCols.map(c => col(c).as(s"c_$c")): _*), Seq("chosen_id"))
          .join(feats.select(col("doc_id").as("rejected_id") +:
            TextOps.LogitXCols.map(c => col(c).as(s"r_$c")): _*), Seq("rejected_id"))
          .select(col("chosen_id").as("doc_id") +: lit(1.0).as("y") +:
            TextOps.LogitXCols.map(c => (col(s"c_$c") - col(s"r_$c")).as(c)): _*),
        reliable = false)
      val sp = TextOps.logitScoreFeatures(diffs,
        TextOps.logitTrain(diffs, steps = steps))
      TextOps.classEval(sp.select(col("doc_id"), lit("pref").as("label"),
          when(col("logit") >= lit(0.0), lit("pref")).otherwise(lit("anti")).as("pred")))
        .orderBy(col("class"))
    },

    QueryDef("g_bt_rank", btRankOracleSql) { (s, dir) => // best-of-n selection under the learned
      // reward — the consumer of g_bt_fit's weights (a fitted reward
      // model nobody scores with is as incomplete as unpaired
      // preferences): the SAME pairing → diffs → descent, then the
      // trained weights score EVERY document, each source keeping its
      // top quarter by reward through the salted two-phase
      // scoreQuantileFilter. The whole chain is ONE operator
      // (CurationOps.btRewardRank) shared bit-for-bit with the streamed
      // maintainer — both gate on this oracle's single-window replay.
      val steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)
      val d = Tables.documents(s, dir)
      CurationOps.btRewardRank(
          TextOps.logitFeatures(d)
            .select(col("doc_id") +: TextOps.LogitXCols.map(col): _*)
            .join(d.select(col("doc_id"), col("source"),
              floor(graft.functions.TextFns.qualityScore(col("text")) * lit(1e4))
                .cast("long").as("score")), Seq("doc_id")),
          steps = steps)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_glm_poisson", glmPoissonOracleSql) { (s, dir) => // the GLM seam beyond the logit
      // link: Poisson (log-link) regression of the token COUNT in
      // kilotokens (n_tokens / 1000 — a pre-scaled count outcome, not a
      // per-character rate) on the same seven features — the identical
      // integer-unit /
      // exact-decimal-gradient descent with the mean function swapped to
      // exp(z) (canonical-link gradients share one shape). The outcome
      // is pre-scaled so exp stays O(0.1), keeping the exp last-ulp
      // floor-boundary class at the logit trainer's negligible level.
      // The oracle unrolls the whole descent from the SAME generator.
      val f = TextOps.logitFeatures(Tables.documents(s, dir),
        label = org.apache.spark.sql.functions.size(
          graft.functions.TextFns.tokens(col("text"))).cast("double") / lit(1000.0))
      TextOps.logitScoreFeatures(f, TextOps.glmTrainLog(f,
          steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)))
        .orderBy(col("doc_id"))
    },

    QueryDef("q_stream_glm",
      // the streamed maintainer serves the SAME descent
      glmPoissonOracleSql) { (s, dir) => // maintained Poisson GLM, oracle
      // side: an AvailableNow run of glmStream lands the rate-labeled
      // feature deltas and retrains on refresh — served scores must be
      // bit-equal to the batch g_glm_poisson (shared oracle hash). The
      // link id is pinned in _meta.json so a logit sink and a GLM sink
      // can never silently continue each other.
      val out = scratchDir("q_stream_glm")
      val src = stream(s, dir, "documents")
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .glmStream(src, s"$out/idx", s"$out/ckpt",
          steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)))
      graft.streaming.StreamingOps.readGlmScores(s, s"$out/idx")
        .orderBy(col("doc_id"))
    },

    QueryDef("q_stream_doremi",
      // the streamed maintainer recomputes the SAME mixture (one truth)
      doremiOracleSql) { (s, dir) => // maintained DoReMi mixture,
      // oracle side: an AvailableNow run of doremiStream lands the
      // feature-plus-domain deltas and recomputes classifier -> per-domain
      // loss -> EG weights on refresh — the served mixture must be
      // bit-equal to the batch g_doremi_weights (shared oracle hash).
      // lrDen and eta pin by exact IEEE bits in _meta.json.
      val out = scratchDir("q_stream_doremi")
      val src = stream(s, dir, "documents")
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .doremiStream(src, s"$out/idx", s"$out/ckpt",
          steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)))
      graft.streaming.StreamingOps.readDoremiWeights(s, s"$out/idx")
        .orderBy(col("source"))
    },

    QueryDef("q_stream_bt",
      // the streamed twin serves the SAME rows (one truth, one hash)
      btRankOracleSql) { (s, dir) => // maintained Bradley–Terry reward
      // selection, oracle side: an AvailableNow run of btRankStream
      // lands the feature-plus-domain-plus-score deltas and recomputes
      // pairing -> pairwise descent -> reward scores -> per-source
      // top-quarter keep on refresh — the served rows must be bit-equal
      // to the batch g_bt_rank (shared oracle hash). lrDen and keepFrac
      // pin by exact IEEE bits in _meta.json.
      val out = scratchDir("q_stream_bt")
      val src = stream(s, dir, "documents")
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .btRankStream(src, s"$out/idx", s"$out/ckpt",
          steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault)))
      graft.streaming.StreamingOps.readBtRank(s, s"$out/idx")
        .orderBy(col("doc_id"))
    },

    QueryDef("g_ccnet_buckets", ccnetBucketsOracleSql) { (s, dir) => // the CCNet head/middle/tail
      // split (the paper's actual bucketing, next to g_ccnet_pipeline's
      // hard cut): per-source perplexity THIRDS of the trigram-KN
      // scores. Scores quantize to integer 1e-4 units (the 4-digit
      // floor's grid — lossless), shift non-negative by the
      // 1-row-broadcast corpus minimum (the rankBuckets DIV contract),
      // then the two-phase per-group rank strata — bucket 2 = head
      // (best log-probability), no corpus-wide window at any scale.
      val d = Tables.documents(s, dir)
      val scored = TextOps.kn3ScoreAgainst(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          minCount = GraftConf.int(s, GraftConf.KnMinCount, GraftConf.KnMinCountDefault).toLong)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          floor(col("avg_logprob") * lit(1e4)).cast("long").as("__u"))
      val minU = scored.agg(min(col("__u")).as("__minu"))
      CurationOps.rankBucketsByGroup(
          scored.crossJoin(broadcast(minU))
            .select(col("doc_id"), col("source"),
              (col("__u") - col("__minu")).as("score")),
          nBuckets = 3)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_logit_hashed", logitHashedOracleSql) { (s, dir) => // feature-HASHED logistic
      // regression — the fastText shape: tokens hash into 64 buckets
      // (the cross-engine polynomial hash), the model is a bucket-keyed
      // WEIGHT FRAME (no driver vector), and the per-doc activation is
      // an exact integer unit-sum with ONE double conversion — so the
      // whole descent replays bit-identically from unrolled CTEs even
      // at vocab-scale feature counts.
      TextOps.logitTrainHashed(Tables.documents(s, dir), nBuckets = 64,
          steps = GraftConf.int(s, GraftConf.LogitSteps, GraftConf.LogitStepsDefault))
        .orderBy(col("doc_id"))
    },

    QueryDef("g_nb_langid", nbLangidOracleSql) { (s, dir) => // TRAINED language identification:
      // multinomial Naive Bayes with add-one smoothing, estimated on the
      // even-id half's (lang, token) counts, classifying the odd half —
      // the generative complement of g_logit_train and the trained
      // sibling of the heuristic g_lang_id. Per-(doc, class) scores are
      // pure decimals (ln quantized before the exact sum, no division
      // after), so the argmax and its tie-break replay bit-identically.
      val d = Tables.documents(s, dir)
      TextOps.nbTrainScore(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0))
        .orderBy(col("doc_id"))
    },

    QueryDef("q_stream_nb",
      // the streamed count landing + fold IS the model (additive evidence)
      nbLangidOracleSql) { (s, dir) => // maintained NB model, oracle side:
      // nbCountsStream lands the LM half's class-token and class-doc
      // counts as source-tagged deltas (NB evidence is additive — the
      // knCountsStream discipline, not a global-schedule refresh),
      // compactNbCounts folds both roots, and classifying the odd half
      // against the folded model must be bit-equal to the batch
      // g_nb_langid (shared oracle hash).
      val out = scratchDir("q_stream_nb")
      val src = stream(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
      drain(s, dir, "documents")(graft.streaming.StreamingOps
        .nbCountsStream(src, s"$out/idx", s"$out/ckpt"))
      graft.streaming.StreamingOps.compactNbCounts(s, s"$out/idx")
      val (ncw, cls) = graft.streaming.StreamingOps.readNbCounts(s, s"$out/idx")
      TextOps.nbScore(
          Tables.documents(s, dir).filter(col("doc_id") % 2 === 1), ncw, cls)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_zipf_fit",
      // exact (count desc, token asc) top-100 cut per lang; quantized
      // logs; exact decimal OLS sums; fixed-shape double closed form
      """WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2),
        |r AS (SELECT lang, c,
        |        row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS r
        |      FROM c),
        |q AS (SELECT lang,
        |        CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(18,8)) AS x,
        |        CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,8)) AS y
        |      FROM r WHERE r <= 100),
        |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |        sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |      FROM q GROUP BY 1),
        |b AS (SELECT lang, n, sx, sy,
        |        CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0
        |             THEN 0.0
        |             ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope
        |      FROM a)
        |SELECT lang, n AS n_top,
        |       floor(slope * 1000000) / 1000000 AS slope,
        |       floor((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |             / CAST(n AS DOUBLE) * 1000000) / 1000000 AS intercept
        |FROM b ORDER BY lang""".stripMargin) { (s, dir) => // corpus-health diagnostic: per-lang
      // OLS slope/intercept of ln(freq) vs ln(rank) over the top-100
      // token types (natural text ~ slope −1; flat/steep slopes flag
      // templated or degenerate sources). Exact rank cut, quantized
      // logs, exact decimal OLS sums, fixed-shape double closed form —
      // the oracle replays all of it. Windows run over the Zipf-bounded
      // TYPE frame only.
      TextOps.zipfFit(Tables.documents(s, dir), topN = 100)
        .orderBy(col("lang"))
    },

    QueryDef("g_mink_prob",
      // LM type counts + 1-row (T, V); per-(doc, lp) multiplicities;
      // bottom-k by value cutoff with the boundary group contributing
      // least(m, k - seen) copies; k = ceil(0.2·n) in DOUBLE both sides
      """WITH lm AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
        |sc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
        |cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM lm) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v FROM cnt),
        |dt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS m0
        |       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM sc)
        |       GROUP BY 1, 2),
        |lpj AS (SELECT doc_id,
        |          CAST(ln((CAST(coalesce(c, 0) AS DOUBLE) + 1.0) / (t + v))
        |               AS DECIMAL(18,8)) AS lp,
        |          m0
        |        FROM dt LEFT JOIN cnt USING (w) CROSS JOIN tot),
        |g AS (SELECT doc_id, lp, CAST(sum(m0) AS BIGINT) AS m FROM lpj GROUP BY 1, 2),
        |r AS (SELECT doc_id, lp, m,
        |        CAST(sum(m) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
        |        CAST(coalesce(sum(m) OVER (PARTITION BY doc_id ORDER BY lp
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bef
        |      FROM g),
        |s AS (SELECT doc_id, n,
        |        CAST(ceil(CAST(0.2 AS DOUBLE) * n) AS BIGINT) AS k, lp,
        |        least(m, CAST(ceil(CAST(0.2 AS DOUBLE) * n) AS BIGINT) - bef) AS take
        |      FROM r WHERE bef < CAST(ceil(CAST(0.2 AS DOUBLE) * n) AS BIGINT))
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |       floor(CAST(sum(lp * CAST(take AS DECIMAL(10,0))) AS DOUBLE)
        |             / CAST(max(k) AS DOUBLE) * 10000) / 10000 AS mink_mean
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) => // min-K% probability membership
      // signal (Shi et al. 2024): per eval doc, the mean of its 20%
      // lowest token log-probs under the train half's add-one unigram
      // LM — the model-side memorization audit next to g_novelty's
      // n-gram one. Value-cutoff selection over the per-(doc, lp)
      // multiplicity frame (tie-straddling is sum-unique), quantized
      // ln, one division; the oracle replays LM, cutoff, and boundary
      // arithmetic.
      val d = Tables.documents(s, dir)
      TextOps.minKProb(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          kPercent = 20)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_novelty",
      // the contamination shingle shape, per-doc inverse: distinct eval
      // shingles left-join the train distinct-shingle set
      """WITH sh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
        |tr AS (SELECT DISTINCT shingle, 1 AS hit FROM sh WHERE doc_id % 2 = 0),
        |ev AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 2 = 1)
        |SELECT ev.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |       CAST(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
        |       floor((1.0 - CAST(sum(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |              / count(*)) * 1000000) / 1000000 AS novelty_frac
        |FROM ev LEFT JOIN tr USING (shingle)
        |GROUP BY ev.doc_id ORDER BY ev.doc_id""".stripMargin) { (s, dir) =>
      // memorization audit: per eval doc, the
      // fraction of its distinct 3-shingles NOT in the train half's
      // shingle set — contamination's per-doc inverse (near-zero novelty
      // = memorization suspect / leak). One shingle-keyed left join;
      // string shingles here so the oracle replays exactly (hashed=true
      // is the 8-byte production path, collision-only approximation).
      val d = Tables.documents(s, dir)
      CurationOps.noveltyScore(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          k = 3, hashed = false)
        .orderBy(col("doc_id"))
    },

    QueryDef("g_langid_eval", langidEvalOracleSql) { (s, dir) =>
      // the HEURISTIC language id through
      // the same classEval pivot as g_nb_eval/g_nb_priors — the third
      // point of the comparison triple (heuristic / trained NB /
      // priors-only), on the same held-out odd-id half. The heuristic
      // only ever guesses en/other, so the union class list keeps every
      // label's recall row (zero where it never predicts).
      val d = Tables.documents(s, dir).filter(col("doc_id") % 2 === 1)
      TextOps.classEval(
          TextOps.langId(d).select(col("doc_id"),
            col("lang_label").as("label"), col("lang_guess").as("pred")))
        .orderBy(col("class"))
    },

    QueryDef("g_nb_eval", nbEvalOracleSql) { (s, dir) => // the NB train→evaluate loop closed the
      // way g_logit_eval closed the logit loop: the g_nb_langid argmax
      // joined back to the held-out labels and reduced to per-class
      // one-vs-rest confusion counts + precision/recall/F1 and the
      // macro-F1 (floored-F1 mean over exact decimals). The oracle
      // replays the ENTIRE pipeline — model counts, smoothing, argmax
      // tie-break, confusion pivot — so a drifted probability anywhere
      // moves a doc across a class boundary and flips the counts.
      val d = Tables.documents(s, dir)
      val scored = TextOps.nbTrainScore(
        d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0))
      TextOps.classEval(scored
          .join(d.select(col("doc_id"), col("lang").as("label")), Seq("doc_id")))
        .orderBy(col("class"))
    },

    QueryDef("g_ccnet_pipeline", ccnetPipelineOracleSql) { (s, dir) => // the CCNet stage boundary
      // composed in ONE DAG (the g_pipeline_e2e discipline — each stage
      // feeds the next's corpus): interpolated trigram-KN scoring of the
      // crawl half under the clean half's LM (g_kn3_score's exact
      // machinery) → per-domain top-half cut by avg_logprob through the
      // salted scoreQuantileFilter → the kept corpus. The oracle replays
      // BOTH stage boundaries, so a drifted trigram probability anywhere
      // moves a doc across its domain's cut.
      val d = Tables.documents(s, dir)
      val scored = TextOps.kn3ScoreAgainst(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          minCount = GraftConf.int(s, GraftConf.KnMinCount, GraftConf.KnMinCountDefault).toLong)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      CurationOps.scoreQuantileFilter(scored, keepFrac = 0.5, saltBuckets = 4,
          domainCol = "source", idCol = "doc_id", scoreCol = "avg_logprob")
        .orderBy(col("doc_id"))
    },

    QueryDef("g_oov_rate",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS c FROM toks GROUP BY 1
        |    ORDER BY c DESC, tok LIMIT 100)),
        |marked AS (
        |  SELECT doc_id, CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END AS oov
        |  FROM toks LEFT JOIN vocab v USING (tok))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       floor((sum(oov) / count(*)) * 1000000) / 1000000 AS oov_frac
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // tokenizer-fit report: per-doc OOV
      // fraction against the corpus top-100 vocabulary (deterministic
      // count-desc/token-asc cut); vocab broadcasts, token stream never
      // shuffles on the token key
      TextOps.oovRate(Tables.documents(s, dir), vocabSize = 100).orderBy(col("doc_id"))
    },

    QueryDef("g_hard_negatives",
      """WITH probes AS (
        |  SELECT vec_id AS probe_id, label AS probe_label, CAST(embedding AS DOUBLE[]) AS pv
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT probe_id, e.vec_id, e.label,
        |         floor((list_dot_product(CAST(e.embedding AS DOUBLE[]), pv) /
        |               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |                sqrt(list_dot_product(pv, pv)))) * 10000) / 10000 AS sim
        |  FROM embeddings e JOIN probes
        |    ON e.vec_id <> probe_id AND e.label <> probe_label),
        |ranked AS (
        |  SELECT probe_id, vec_id, label, sim,
        |         CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |SELECT probe_id, vec_id, label, sim, rank FROM ranked
        |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin) { (s, dir) =>
      // contrastive-training hard
      // negatives: per probe, top-10 most-similar DIFFERENT-label vectors
      // (label inequality rides the broadcast join condition)
      SimilarityOps.hardNegatives(
          Tables.embeddings(s, dir),
          Tables.embeddings(s, dir).filter(col("vec_id") < 5), k = 10)
        .orderBy(col("probe_id"), col("rank"))
    },

    QueryDef("g_bitext_margin", oracleSqlBitextMargin) { (s, dir) => // margin-based bitext mining
      // (Artetxe & Schwenk ratio margin) between the label-0 and label-1
      // embedding sides: per left vector, the best right candidate by
      // cos normalized against both k-NN neighborhood means. Fixed-point
      // ingredients (floored-cos longs, integer neighborhood sums) make
      // the score bit-exact cross-engine; the full-cross-product scoring
      // is the definition truth (the scale path feeds the same margin
      // from IVF candidates).
      SimilarityOps.bitextMargin(Tables.embeddings(s, dir), leftLabel = 0, rightLabel = 1, k = 4)
        .orderBy(col("x_id"))
    },

    QueryDef("g_bitext_ivf",
      // probe-all IVF candidates == the exact cross product: the scale
      // path's losslessness gate shares the definition oracle
      oracleSqlBitextMargin) { (s, dir) => // the bitext scale path: IVF-cell
      // candidate generation (right side lands in its cell, left probes
      // ALL cells here) feeding the identical margin/argmax tail —
      // probe-all == the exact cross-product definition row-for-row, so
      // the shared oracle hash certifies the equi-join candidate path is
      // lossless (the g_sim_ivf losslessness contract for bitext).
      // Reduced-probe behavior is BitextIvfSpec's job.
      SimilarityOps.bitextMarginIvf(Tables.embeddings(s, dir),
          leftLabel = 0, rightLabel = 1,
          centroids = fixtureCentroids(64), nProbe = KmFixtureK, k = 4)
        .orderBy(col("x_id"))
    },

    QueryDef("g_decontam_semantic", oracleSqlDecontamSemantic) { (s, dir) => // embedding-level
      // decontamination, the semantic sibling of the n-gram
      // g_contamination: each eval-side vector's nearest train-side
      // vector by cosine + a threshold flag — paraphrased leakage that
      // n-gram overlap misses. Fixed-point floored-cos argmax with
      // (sim desc, id asc) tie-break; the full cross product is the
      // definition truth (the g_embed_pairs quadratic-budget class).
      SimilarityOps.crossMaxCosine(Tables.embeddings(s, dir),
          evalLabel = 0, trainLabel = 1, threshold = 0.3)
        .orderBy(col("eval_id"))
    },

    QueryDef("g_decontam_ivf",
      // probe-all == the exact cross product: one truth, one hash
      oracleSqlDecontamSemantic) { (s, dir) => // the decontamination scale path:
      // train vectors land in their IVF cell, eval vectors probe ALL
      // cells here — probe-all == the exact definition row-for-row
      // (shared oracle hash = the losslessness gate); production probes
      // fewer cells for candidate-sized joins instead of the cross
      // product.
      SimilarityOps.crossMaxCosineIvf(Tables.embeddings(s, dir),
          evalLabel = 0, trainLabel = 1, threshold = 0.3,
          centroids = fixtureCentroids(64), nProbe = KmFixtureK)
        .orderBy(col("eval_id"))
    },

    QueryDef("g_length_quantiles",
      """SELECT lang, count(*) AS n_docs,
        |       floor(quantile_cont(n_chars, 0.25) * 10000) / 10000 AS q25,
        |       floor(quantile_cont(n_chars, 0.5) * 10000) / 10000 AS q50,
        |       floor(quantile_cont(n_chars, 0.75) * 10000) / 10000 AS q75
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      // corpus length distribution
      val fl = (c: org.apache.spark.sql.Column) =>
        graft.functions.NumFns.floorAt(c, 4)
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          fl(expr("percentile(n_chars, 0.25)")).as("q25"),
          fl(expr("percentile(n_chars, 0.5)")).as("q50"),
          fl(expr("percentile(n_chars, 0.75)")).as("q75"))
        .orderBy(col("lang"))
    },

    QueryDef("g_fingerprints",
      """SELECT doc_id, md5(lower(text)) AS md5_norm
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // md5 content fingerprint (oracle-able)
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(lower(col("text"))).as("md5_norm"))
        .orderBy(col("doc_id"))
    },

    QueryDef("g_fingerprints_rolling",
      // the identical (acc*31 + code) mod 1e9+7 fold over codepoints
      """SELECT doc_id,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, length(text)+1), i -> CAST(unicode(text[i]) AS BIGINT))),
        |         (acc, c) -> (acc * 31 + c) % 1000000007) AS poly_fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // rolling fingerprint, oracle-
      // gated via the char-level polynomial variant (identical fold in
      // DuckDB list_reduce); the xxhash token fold stays engine-local
      // (TextVectorFnsSpec)
      TextOps.fingerprints(Tables.documents(s, dir))
        .select(col("doc_id"), col("poly_fp"))
        .orderBy(col("doc_id"))
    },

    QueryDef("g_multimodal_meta",
      """SELECT doc_id AS media_id,
        |       CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |       md5(text) AS content_md5
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) => // binary column metadata
      MultimodalOps.mediaMeta(MultimodalOps.mediaFromDocuments(Tables.documents(s, dir)))
        .select(col("media_id"), col("byte_len"), col("content_md5"))
        .orderBy(col("media_id"))
    },

    QueryDef("g_multimodal_decode",
      // byte statistics recomputed from codepoints (ASCII corpus: byte ==
      // codepoint); all quotients are exact-integer / integer, no flooring
      """WITH c AS (
        |  SELECT doc_id AS media_id,
        |         list_transform(range(1, length(text)+1), i -> unicode(text[i])) AS codes,
        |         octet_length(encode(text)) AS byte_len
        |  FROM documents)
        |SELECT media_id, CAST(byte_len AS INT) AS byte_len,
        |       CAST(list_sum(codes) AS DOUBLE) / byte_len AS mean_byte,
        |       CAST(list_max(codes) AS INT) AS max_byte,
        |       CAST(len(list_distinct(codes)) AS DOUBLE) / least(byte_len, 256) AS entropy_proxy
        |FROM c ORDER BY media_id""".stripMargin) { (s, dir) => // stubbed decode features through
      // the mapPartitions codec seam — oracle-gated: the pseudo-features
      // are byte statistics of the (ASCII) blob, which the oracle
      // recomputes from codepoints; all ratios are exact integer quotients
      // (sums < 2^53), so direct equality holds without flooring
      MultimodalOps.decodeStub(MultimodalOps.mediaFromDocuments(Tables.documents(s, dir)))
        .orderBy(col("media_id"))
    },
  )
}
