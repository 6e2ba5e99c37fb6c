package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps
import graft.ext.{Corpus, Dedup, LangModel, Similarity, TextAnalysis}
import graft.spec._
import graft.SparkEntry.runnerFor
import graft.catalog.Shared._

/** The multiclass probe chain, language-id training, temperature sampling,
  * CCNet bucketing, and the curation and SemDeDup streaming sinks. */
object MulticlassQueries {

  /** Shared CTEs of the TRAINED-language-ID oracles over the documents
    * table: hashed-TF features rebuilt exactly (md5 15-hex prefix = top 60
    * bits; signed bucket counts / 1024 — dyadic), then the same
    * centroid-fit/score/argmax replay as [[mcEmbedSqlCtes]]. */
  private def mcHashTfSqlCtes(fitWhere: String): String =
    s"""WITH w0 AS (
       |  SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
       |      x -> length(x) > 0) AS ws FROM documents),
       |h AS (
       |  SELECT doc_id, lang, list_transform(ws, t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w0),
       |q AS (
       |  SELECT doc_id, lang, dim,
       |    CAST(round((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, v -> CASE WHEN v % 64 = dim
       |        THEN CAST(1 AS BIGINT) - ((v >> 59) & 1) * 2
       |        ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS DOUBLE) / CAST(1024 AS DOUBLE)) * 1e6)
       |      AS BIGINT) AS qx
       |  FROM (SELECT doc_id, lang, hs, unnest(range(64)) AS dim FROM h)),
       |m AS (
       |  SELECT lang AS lab, dim,
       |    CAST(round(CAST(SUM(qx) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qm
       |  FROM q $fitWhere GROUP BY lang, dim),
       |s AS (
       |  SELECT q.doc_id, m.lab,
       |    (CAST(SUM(q.qx * m.qm) AS DOUBLE)
       |      - CAST(SUM(m.qm * m.qm) AS DOUBLE) / 2.0) / 1e12 AS score
       |  FROM q JOIN m ON q.dim = m.dim
       |  GROUP BY q.doc_id, m.lab),
       |p AS (
       |  SELECT doc_id, lab AS pred_label,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, lab) AS rn
       |  FROM s)""".stripMargin

  /** q_curate_stream replay — the full cascade unrolled per batch:
    * quality (token count), exact-Jaccard dedup against head ∪ earlier
    * admissions ∪ smaller-id batch rows, and the per-language budget as
    * one batch-keyed window cumsum over both batches' budget-stage rows
    * (batch 0's fill precedes batch 1 by the ordering key). Batch 0's
    * ADMITTED set feeds batch 1's candidate pool — the curated-corpus
    * feedback loop, replayed acyclically. */
  private def curateStreamOracleSql: String = {
    val jac = "CASE WHEN len(list_distinct(list_concat(sx.sh, sy.sh))) > 0" +
      " THEN CAST(len(list_intersect(sx.sh, sy.sh)) AS DOUBLE)" +
      " / len(list_distinct(list_concat(sx.sh, sy.sh))) ELSE 0.0 END"
    s"""WITH headc AS (
       |  SELECT doc_id, lang, text, n_chars FROM documents WHERE doc_id < 50),
       |ba0 AS (
       |  SELECT CAST(0 AS BIGINT) batch_id, doc_id, lang, text, n_chars
       |  FROM documents WHERE doc_id >= 50 AND doc_id < 150
       |  UNION ALL
       |  SELECT CAST(0 AS BIGINT), doc_id + 100000, lang, text, n_chars
       |  FROM documents WHERE doc_id = 3 OR doc_id = 60
       |  UNION ALL
       |  SELECT CAST(0 AS BIGINT), 99999, 'en', 'too short', 9),
       |ba1 AS (
       |  SELECT CAST(1 AS BIGINT) batch_id, doc_id, lang, text, n_chars
       |  FROM documents WHERE doc_id >= 150 AND doc_id < 250
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), doc_id + 200000, lang, text, n_chars
       |  FROM documents WHERE doc_id = 3 OR doc_id = 70),
       |allr AS (SELECT * FROM ba0 UNION ALL SELECT * FROM ba1),
       |tok AS (SELECT batch_id, doc_id, lang, n_chars,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
       |      AS BIGINT) AS nt
       |  FROM allr),
       |shsrc AS (SELECT doc_id, text FROM headc
       |          UNION ALL SELECT doc_id, text FROM allr),
       |sh AS (
       |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
       |    SELECT doc_id,
       |    CASE WHEN len(words) >= 3 THEN
       |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
       |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
       |    ELSE [] END AS ngrams
       |    FROM (SELECT doc_id,
       |      list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
       |        w -> length(w) > 0) AS words
       |      FROM shsrc))),
       |q0 AS (SELECT * FROM tok WHERE batch_id = 0 AND nt >= 5),
       |cand0 AS (SELECT doc_id FROM headc UNION ALL SELECT doc_id FROM q0),
       |dup0 AS (SELECT DISTINCT x.doc_id
       |  FROM q0 x JOIN sh sx ON sx.doc_id = x.doc_id,
       |    cand0 c JOIN sh sy ON sy.doc_id = c.doc_id
       |  WHERE c.doc_id < x.doc_id AND $jac >= 0.9),
       |nd0 AS (SELECT * FROM q0
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dup0)),
       |bud0 AS (SELECT doc_id,
       |    CAST(SUM(nt) OVER (PARTITION BY lang
       |      ORDER BY n_chars DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM nd0),
       |adm0 AS (SELECT doc_id FROM bud0 WHERE cum <= $TbBudget),
       |q1 AS (SELECT * FROM tok WHERE batch_id = 1 AND nt >= 5),
       |cand1 AS (SELECT doc_id FROM headc
       |  UNION ALL SELECT doc_id FROM adm0
       |  UNION ALL SELECT doc_id FROM q1),
       |dup1 AS (SELECT DISTINCT x.doc_id
       |  FROM q1 x JOIN sh sx ON sx.doc_id = x.doc_id,
       |    cand1 c JOIN sh sy ON sy.doc_id = c.doc_id
       |  WHERE c.doc_id < x.doc_id AND $jac >= 0.9),
       |nd1 AS (SELECT * FROM q1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dup1)),
       |ndall AS (SELECT * FROM nd0 UNION ALL SELECT * FROM nd1),
       |budall AS (SELECT doc_id,
       |    CAST(SUM(nt) OVER (PARTITION BY lang
       |      ORDER BY batch_id, n_chars DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum
       |  FROM ndall),
       |dupall AS (SELECT doc_id FROM dup0 UNION ALL SELECT doc_id FROM dup1)
       |SELECT t.batch_id, t.doc_id, t.nt >= 5 AS quality_ok,
       |  (t.nt >= 5 AND d.doc_id IS NOT NULL) AS is_dup,
       |  bl.cum AS cum_tokens,
       |  COALESCE(bl.cum <= $TbBudget, false) AS admitted
       |FROM tok t
       |LEFT JOIN dupall d ON d.doc_id = t.doc_id
       |LEFT JOIN budall bl ON bl.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** q_sem_sink replay: the q_dedup_semantic dup rule over the two-batch
    * union (nondecreasing ids make stream == batch), batch_id derived
    * from the id ranges the gate streams. */
  private val semSinkOracleSql: String =
    """WITH u AS (
      |  SELECT CAST(0 AS BIGINT) AS batch_id, vec_id, embedding
      |  FROM embeddings WHERE vec_id < 30
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), vec_id, embedding
      |  FROM embeddings WHERE vec_id >= 30 AND vec_id < 60
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), vec_id + 100000, embedding
      |  FROM embeddings WHERE vec_id >= 30 AND vec_id < 40),
      |cent AS (
      |  SELECT CAST(vec_id AS INT) cent_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
      |  FROM embeddings WHERE vec_id < 8),
      |corp AS (SELECT batch_id, vec_id cid,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
      |assign AS (
      |  SELECT batch_id, cid, cent_id AS cell, v FROM (
      |    SELECT c.batch_id, c.cid, ct.cent_id, c.v,
      |      row_number() OVER (PARTITION BY c.cid
      |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
      |    FROM corp c, cent ct) WHERE rn = 1),
      |dup AS (
      |  SELECT DISTINCT b.cid AS dup_id
      |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.cid < b.cid
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.8)
      |SELECT a.batch_id, a.cid AS vec_id, a.cell, (d.dup_id IS NULL) AS keep
      |FROM assign a LEFT JOIN dup d ON a.cid = d.dup_id
      |ORDER BY vec_id""".stripMargin

  /** q_sem_horizon replay: the sink's BATCH-DISTANCE dedup rule made
    * explicit — a row drops iff a same-cell cosine-≥0.8 neighbor exists
    * either (a) in its OWN batch with a smaller id, or (b) in an earlier
    * batch within `horizonBatches = 1` (b.batch − 1 ≤ a.batch < b.batch)
    * — NO id condition on carried rows (the engine probes the whole
    * retained state), and batch 0's rows are invisible to batch 2. */
  private val semHorizonOracleSql: String =
    """WITH u AS (
      |  SELECT CAST(0 AS BIGINT) AS batch_id, vec_id, embedding
      |  FROM embeddings WHERE vec_id < 20
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), vec_id, embedding
      |  FROM embeddings WHERE vec_id >= 20 AND vec_id < 40
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), vec_id + 100000, embedding
      |  FROM embeddings WHERE vec_id >= 10 AND vec_id < 20
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), vec_id, embedding
      |  FROM embeddings WHERE vec_id >= 40 AND vec_id < 60
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), vec_id + 200000, embedding
      |  FROM embeddings WHERE vec_id >= 20 AND vec_id < 30
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), vec_id + 300000, embedding
      |  FROM embeddings WHERE vec_id < 10),
      |cent AS (
      |  SELECT CAST(vec_id AS INT) cent_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
      |  FROM embeddings WHERE vec_id < 8),
      |corp AS (SELECT batch_id, vec_id cid,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
      |assign AS (
      |  SELECT batch_id, cid, cent_id AS cell, v FROM (
      |    SELECT c.batch_id, c.cid, ct.cent_id, c.v,
      |      row_number() OVER (PARTITION BY c.cid
      |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
      |    FROM corp c, cent ct) WHERE rn = 1),
      |dup AS (
      |  SELECT DISTINCT b.cid AS dup_id
      |  FROM assign a JOIN assign b ON a.cell = b.cell
      |  WHERE ((a.batch_id = b.batch_id AND a.cid < b.cid)
      |      OR (a.batch_id < b.batch_id AND a.batch_id >= b.batch_id - 1))
      |    AND list_cosine_similarity(a.v, b.v) >= 0.8)
      |SELECT a.batch_id, a.cid AS vec_id, a.cell, (d.dup_id IS NULL) AS keep
      |FROM assign a LEFT JOIN dup d ON a.cid = d.dup_id
      |ORDER BY vec_id""".stripMargin

  val queries: Seq[Query] = Seq(

    Query("q_probe_multiclass", (s, dir) => {
      // the QUANTIZED-EXACT multiclass probe (nearest-class-mean in 1e-6
      // integer arithmetic — ml.Multiclass): fit on the even vec_ids, score
      // EVERY row — held-out odd rows replay the same centroid literals.
      // Long format (vec_id, label, score, pred_label): the per-class score
      // surface AND the argmax class are both hash-gated; every score is an
      // exact quotient of integer arithmetic (the scoresExact contract), the
      // argmax first-max-wins on the sorted label order.
      val emb = t(s, dir, "embeddings")
      val fit = graft.ml.Multiclass.fitCentroidsExact(
        emb.filter(col("vec_id") % 2 === 0), col("embedding"), col("label"))
      graft.ml.Multiclass.scoresExact(emb, col("vec_id"), col("embedding"), fit)
        .select(col("id").as("vec_id"), col("label"), col("score"),
          col("pred_label"))
        .orderBy(col("vec_id"), col("label"))
    },
      // multiclass replay: fit on even vec_ids, score + argmax on every row
      (mcEmbedSqlCtes("WHERE vec_id % 2 = 0") +
        """
          |SELECT s.vec_id, s.lab AS label, s.score, p.pred_label
          |FROM s JOIN p ON s.vec_id = p.vec_id AND p.rn = 1
          |ORDER BY s.vec_id, label""".stripMargin)),

    Query("q_probe_mc_eval", (s, dir) => {
      // multiclass chain THROUGH THE SPEC LAYER: TrainMulticlassClassifierOp
      // ("nearest_centroid" — the exact registry member) → MulticlassPredictOp
      // → MulticlassEvaluationOp; the store round-trips the custom
      // QuantizedCentroidModel stage via PipelineModel.load. The gate row
      // re-derives every metric from the report's INTEGER confusion counts
      // by single divisions quantized to micro-units (f1 = 2tp/(2tp+fp+fn) —
      // one division, so the full metric set is bit-replayable where the
      // report's composed doubles would not be).
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val x = SelectVectorColumnOp(ds, "embedding")
      val cls = SelectCategoricalColumnOp(ds, "label")
      val model = TrainMulticlassClassifierOp("nearest_centroid", x, cls)
      val pred = MulticlassPredictOp(model, x)
      val eval = MulticlassEvaluationOp(pred, cls)
      val all = r.toJson(eval).asInstanceOf[JObj]("splits")
        .asInstanceOf[JObj]("all").asInstanceOf[JObj]
      def l(v: JValue): Long = v.asInstanceOf[JLong].value
      val n = l(all("count"))
      val classes = all("classes").asInstanceOf[JObj].fields.toSeq.map {
        case (lab, o: JObj) =>
          (lab, l(o("support")), l(o("tp")), l(o("fp")), l(o("fn")))
        case other => throw new IllegalStateException(s"bad class entry $other")
      }
      val correct = classes.map(_._3).sum
      import s.implicits._
      val perClass = classes
        .toDF("label", "support", "tp", "fp", "fn")
        .withColumn("p_u6", when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")) * 1e6)
            .cast("long")))
        .withColumn("r_u6", when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")) * 1e6)
            .cast("long")))
        .withColumn("f1_u6", when(col("tp") * 2 + col("fp") + col("fn") > 0,
          round(col("tp").cast("double") * 2
            / (col("tp") * 2 + col("fp") + col("fn")) * 1e6).cast("long")))
      val agg = perClass.agg(
        round(sum(col("f1_u6")).cast("double") / count(lit(1))).cast("long")
          .as("macro_u6")).head().getLong(0)
      perClass
        .withColumn("acc_u6",
          round(lit(correct).cast("double") / lit(n) * 1e6).cast("long"))
        .withColumn("macro_u6", lit(agg))
        .orderBy(col("label"))
    },
      // spec-chain replay: fit on ALL rows, confusion vs the label column,
      // every metric a single integer division quantized to micro-units
      (mcEmbedSqlCtes("") +
        """,
          |pred AS (SELECT vec_id, pred_label FROM p WHERE rn = 1),
          |gt AS (SELECT vec_id, CAST(label AS VARCHAR) AS gt FROM embeddings),
          |cellc AS (
          |  SELECT g.gt, pr.pred_label AS pl, CAST(count(*) AS BIGINT) AS n
          |  FROM gt g JOIN pred pr USING (vec_id) GROUP BY 1, 2),
          |cls AS (SELECT DISTINCT lab FROM
          |  (SELECT gt AS lab FROM cellc UNION SELECT pl FROM cellc)),
          |stats AS (
          |  SELECT c.lab AS label,
          |    CAST(coalesce(SUM(CASE WHEN cc.gt = c.lab AND cc.pl = c.lab
          |      THEN cc.n END), 0) AS BIGINT) AS tp,
          |    CAST(coalesce(SUM(CASE WHEN cc.gt <> c.lab AND cc.pl = c.lab
          |      THEN cc.n END), 0) AS BIGINT) AS fp,
          |    CAST(coalesce(SUM(CASE WHEN cc.gt = c.lab AND cc.pl <> c.lab
          |      THEN cc.n END), 0) AS BIGINT) AS fn
          |  FROM cls c CROSS JOIN cellc cc GROUP BY c.lab),
          |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
          |  CAST(SUM(CASE WHEN gt = pl THEN n ELSE 0 END) AS BIGINT) AS correct
          |  FROM cellc),
          |met AS (
          |  SELECT label, tp + fn AS support, tp, fp, fn,
          |    CASE WHEN tp + fp > 0 THEN CAST(round(CAST(tp AS DOUBLE)
          |      / (tp + fp) * 1e6) AS BIGINT) END AS p_u6,
          |    CASE WHEN tp + fn > 0 THEN CAST(round(CAST(tp AS DOUBLE)
          |      / (tp + fn) * 1e6) AS BIGINT) END AS r_u6,
          |    CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(round(
          |      CAST(tp AS DOUBLE) * 2 / (2 * tp + fp + fn) * 1e6)
          |      AS BIGINT) END AS f1_u6
          |  FROM stats),
          |mac AS (SELECT CAST(round(CAST(SUM(f1_u6) AS DOUBLE) / COUNT(*))
          |  AS BIGINT) AS macro_u6 FROM met)
          |SELECT met.label, met.support, met.tp, met.fp, met.fn,
          |  met.p_u6, met.r_u6, met.f1_u6,
          |  CAST(round(CAST(tot.correct AS DOUBLE) / tot.n * 1e6) AS BIGINT)
          |    AS acc_u6,
          |  mac.macro_u6
          |FROM met CROSS JOIN tot CROSS JOIN mac
          |ORDER BY met.label""".stripMargin)),

    Query("q_lang_id_trained", (s, dir) => {
      // TRAINED language ID (fastText's shape: hashed-TF bag-of-words →
      // exact linear multiclass) fit on the even doc_ids' lang labels,
      // predicting every doc. On this synthetic corpus the text carries no
      // real language signal (shared vocabulary) — the gate checks the
      // EXACT train→predict arithmetic end to end; classification QUALITY
      // (trained beats the stopword heuristic on a multilingual fixture)
      // is asserted in MulticlassSpec.
      TextAnalysis.langIdTrained(t(s, dir, "documents"),
          "doc_id", "text", "lang", fitFilter = col("doc_id") % 2 === 0)
        .orderBy(col("doc_id"))
    },
      // trained language ID replay: hashed-TF fit on even doc_ids, argmax
      (mcHashTfSqlCtes("WHERE doc_id % 2 = 0") +
        """
          |SELECT doc_id, pred_label FROM p WHERE rn = 1
          |ORDER BY doc_id""".stripMargin)),

    Query("q_lang_graph", (s, dir) => {
      // the same trained classifier THROUGH THE SPEC LAYER:
      // HashedTfEmbeddingOp (the text→vector bridge, dyadic /1024 scaling)
      // → nearest-centroid multiclass fit on ALL rows → predicted label as
      // a content-addressed CATEGORICAL column; ids = file-order row
      // indices
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val x = HashedTfEmbeddingOp(SelectTextColumnOp(ds, "text"),
        dim = 64L, scaleBits = 10L)
      val model = TrainMulticlassClassifierOp("nearest_centroid", x,
        SelectCategoricalColumnOp(ds, "lang"))
      r.toFrame(MulticlassPredictOp(model, x))
        .select(col(ColumnOps.RowIdx).cast("long").as("id"),
          col("value").as("pred_label"))
        .orderBy(col("id"))
    },
      // spec twin: fit on all rows, ids = file-order row indices (== doc_id)
      (mcHashTfSqlCtes("") +
        """
          |SELECT doc_id AS id, pred_label FROM p WHERE rn = 1
          |ORDER BY id""".stripMargin)),

    Query("q_temp_sample", (s, dir) => {
      // temperature-flattened language mixture (mT5 α-sampling) at α=0.5
      // (the √ arm — correctly-rounded, hence replayable), frac=0.5:
      // high-resource langs trim toward √-proportional shares, small langs
      // keep more of themselves. The oracle replays the quota table
      // (integer arithmetic end-to-end past one weight rounding) and the
      // md5-ranked per-stratum cut.
      Corpus.temperatureSample(t(s, dir, "documents"), "lang", "doc_id",
          alpha = 0.5, frac = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      // temperature sampling: quota table in HUGEINT arithmetic (one sqrt
      // weight rounding — sqrt IS correctly rounded, so wq matches the
      // engine bit-for-bit), then the stratified md5-rank cut
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |w AS (
        |  SELECT lang, n,
        |    CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS wq
        |  FROM c),
        |t AS (SELECT SUM(wq) AS totw, SUM(n) AS nn FROM w),
        |q AS (
        |  SELECT lang, least(n,
        |    CAST(CAST(floor(0.5 * CAST(nn AS DOUBLE) + 1e-9) AS HUGEINT)
        |      * wq // totw AS BIGINT)) AS quota
        |  FROM w CROSS JOIN t),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.lang FROM r JOIN q USING (lang)
        |WHERE rk <= quota ORDER BY doc_id""".stripMargin),

    Query("q_ccnet", (s, dir) => {
      // CCNet-style quality tiers (Wenzek 2020): reference bigram LM fit on
      // the even doc_ids, every doc scored, per-language head/middle/tail
      // by exact perplexity-rank thirds — the global two-phase rank, no
      // per-language window. The oracle replays fit, scoring, ranking, and
      // the bucket cut.
      val docs = t(s, dir, "documents")
      val lm = LangModel.fit(docs.filter(col("doc_id") % 2 === 0), "text")
      LangModel.ccnetBuckets(docs, "doc_id", "text", "lang", lm)
        .orderBy(col("doc_id"))
    },
      // CCNet buckets: the q_lm_perplexity scoring replay + per-language
      // perplexity rank (unscoreable docs to +∞ → tail) + the exact-thirds
      // cut ⌊3r/cnt⌋
      (lmPerplexitySqlCtes +
        s""",
           |scored AS (
           |  SELECT docs.doc_id, docs.lang,
           |    coalesce(d.n_tokens, 0) AS n_tokens,
           |    coalesce(d.logp_u6, 0) AS logp_u6,
           |    $lmPplExprSql AS ppl
           |  FROM documents docs LEFT JOIN d USING (doc_id)),
           |rk AS (
           |  SELECT *, row_number() OVER (PARTITION BY lang
           |      ORDER BY coalesce(ppl, 'infinity'::DOUBLE), doc_id) - 1 AS r,
           |    count(*) OVER (PARTITION BY lang) AS cnt
           |  FROM scored)
           |SELECT doc_id, lang, n_tokens, logp_u6, ppl,
           |  (['head','middle','tail'])[CAST(floor(r * 3 / cnt) AS INT) + 1]
           |    AS bucket
           |FROM rk ORDER BY doc_id""".stripMargin)),

    Query("q_ccnet_graph", (s, dir) => {
      // CCNet THROUGH THE SPEC LAYER, in its true operating shape: the
      // reference model is fit on TARGET-DOMAIN text (the English slice,
      // selected by a lang mask — Wenzek 2020 fits on Wikipedia), and the
      // buckets measure how reference-like each document is within its own
      // language. The tiering is content-addressed in the store. ids =
      // file-order row indices.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val isEn = CategoryToBooleanOp(
        SelectCategoricalColumnOp(ds, "lang"), Some(Seq("en")))
      r.toFrame(CcnetBucketsOp(
          SelectTextColumnOp(ds, "text"),
          SelectCategoricalColumnOp(ds, "lang"),
          SelectTextColumnOp(MaskRowsOp(ds, isEn), "text")))
        .orderBy(col("id"))
    },
      // spec twin: reference model fit on the ENGLISH slice (CCNet's
      // target-domain shape), ids = file-order row indices (== doc_id)
      (lmPerplexitySqlCtesWith("SELECT p.* FROM p " +
        "JOIN documents dd USING (doc_id) WHERE dd.lang = 'en'") +
        s""",
           |scored AS (
           |  SELECT docs.doc_id, docs.lang,
           |    coalesce(d.n_tokens, 0) AS n_tokens,
           |    coalesce(d.logp_u6, 0) AS logp_u6,
           |    $lmPplExprSql AS ppl
           |  FROM documents docs LEFT JOIN d USING (doc_id)),
           |rk AS (
           |  SELECT *, row_number() OVER (PARTITION BY lang
           |      ORDER BY coalesce(ppl, 'infinity'::DOUBLE), doc_id) - 1 AS r,
           |    count(*) OVER (PARTITION BY lang) AS cnt
           |  FROM scored)
           |SELECT doc_id AS id, lang, n_tokens, logp_u6, ppl,
           |  (['head','middle','tail'])[CAST(floor(r * 3 / cnt) AS INT) + 1]
           |    AS bucket
           |FROM rk ORDER BY id""".stripMargin)),

    Query("q_curate_stream", (s, dir) => {
      // END-TO-END STREAMING CURATION (curateIngestToSink): the whole
      // admission pipeline — quality gate → near-dup vs the CURATED
      // corpus (a stored MinHash index that grows by exactly the
      // admitted rows) → per-language token budget with carried fill —
      // run over two micro-batches with planted cross-batch copies, all
      // three gates' verdicts for EVERY row read back from the durable
      // sink. The oracle replays the full cascade: batch 0's admissions
      // feed batch 1's dedup candidates, the fill carries across batches
      // as one batch-keyed window cumsum, exact Jaccard stands in for
      // the LSH probe (the q_dedup_incr falsifiability argument covers
      // this id range).
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      val head = docs.filter(col("doc_id") < 50)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-curstream-idx-").toString
      Dedup.buildMinhashIndex(s, idx, head, "text", "doc_id")
      import s.implicits._
      val shortRow = Seq((99999L, "en", "too short", 9L))
        .toDF("doc_id", "lang", "text", "n_chars")
      val b0 = docs.filter(col("doc_id") >= 50 && col("doc_id") < 150)
        .unionByName(docs.filter(col("doc_id") === 3 || col("doc_id") === 60)
          .select((col("doc_id") + 100000L).as("doc_id"), col("lang"),
            col("text"), col("n_chars")))
        .unionByName(shortRow)
      val b1 = docs.filter(col("doc_id") >= 150 && col("doc_id") < 250)
        .unionByName(docs.filter(col("doc_id") === 3 || col("doc_id") === 70)
          .select((col("doc_id") + 200000L).as("doc_id"), col("lang"),
            col("text"), col("n_chars")))
      val stream = batchFileStream(s, "curstream", b0, b1)
      val sink = runSink("curstream")((sink, ckpt) =>
        graft.streaming.Streaming.curateIngestToSink(stream, "doc_id",
          "text", "lang", "n_chars", idx, threshold = 0.9, minTokens = 5L,
          budget = TbBudget, sink, ckpt))
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"), col("doc_id"),
          col("quality_ok"), col("is_dup"), col("cum_tokens"),
          col("admitted"))
        .orderBy(col("doc_id"))
    },
      // the full streaming curation cascade: quality → dedup-vs-curated →
      // budget, batch 0's admissions feeding batch 1's candidates
      curateStreamOracleSql),

    Query("q_sem_sink", (s, dir) => {
      // DURABLE SemDeDup (semanticDedupToSink): two id-ordered embedding
      // micro-batches (vec_id < 30; then 30..59 ∪ planted copies of
      // 30..39 at +100000) dedup against pinned centroids — batch 1's
      // rows must drop against batch 0's PERSISTED cell-assigned state
      // (the append-shaped, cell-pruned state store), so the whole
      // ledger equals the batch operator over the union (nondecreasing
      // arrival). Exactly-once restart pinned in StreamingSpec.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = Similarity.centroidsByIds(emb, "vec_id", "embedding",
        0L to 7L)
      val stream = batchFileStream(s, "semsink",
        emb.filter(col("vec_id") < 30),
        emb.filter(col("vec_id") >= 30 && col("vec_id") < 60)
          .union(emb.filter(col("vec_id") >= 30 && col("vec_id") < 40)
            .select((col("vec_id") + 100000L).as("vec_id"),
              col("embedding"))))
      val sink = runSink("semsink")((sink, ckpt) =>
        graft.streaming.Streaming.semanticDedupToSink(stream, "vec_id",
          "embedding", cents, threshold = 0.8, sink, ckpt))
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"),
          col("id").as("vec_id"), col("cell"), col("keep"))
        .orderBy(col("vec_id"))
    }, semSinkOracleSql),

    Query("q_sem_horizon", (s, dir) => {
      // round 20: BOUNDED-HORIZON SemDeDup — the production state bound
      // the unbounded sink only documented. Three id-ordered batches,
      // horizonBatches = 1: batch 1's planted copies of batch 0 rows
      // (+100000) drop against the carried b0 state (within horizon),
      // batch 2's copies of batch 1 rows (+200000) drop against b1 —
      // but batch 2's copies of batch 0 rows (+300000) see NO b0 state
      // (beyond horizon) and survive unless a within-horizon neighbor
      // matches. The oracle replays exactly that batch-distance rule;
      // state dirs older than the horizon are GC'd (StreamingSpec pins
      // the cap and the exact==horizoned equality on a within-horizon
      // corpus).
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = Similarity.centroidsByIds(emb, "vec_id", "embedding",
        0L to 7L)
      val stream = batchFileStream(s, "semhor",
        emb.filter(col("vec_id") < 20),
        emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)
          .union(emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
            .select((col("vec_id") + 100000L).as("vec_id"),
              col("embedding"))),
        emb.filter(col("vec_id") >= 40 && col("vec_id") < 60)
          .union(emb.filter(col("vec_id") >= 20 && col("vec_id") < 30)
            .select((col("vec_id") + 200000L).as("vec_id"),
              col("embedding")))
          .union(emb.filter(col("vec_id") < 10)
            .select((col("vec_id") + 300000L).as("vec_id"),
              col("embedding"))))
      val sink = runSink("semhor")((sink, ckpt) =>
        graft.streaming.Streaming.semanticDedupToSink(stream, "vec_id",
          "embedding", cents, threshold = 0.8, sink, ckpt,
          horizonBatches = 1))
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"),
          col("id").as("vec_id"), col("cell"), col("keep"))
        .orderBy(col("vec_id"))
    }, semHorizonOracleSql),

    Query("q_sem_stream", (s, dir) => {
      // the STREAMING SemDeDup twin under the SAME oracle as
      // q_dedup_semantic: an availableNow stream of the corpus (originals ∪
      // planted copies, built by the same transformations on the streaming
      // frame) deduped against PINNED centroids (vec_id 0..7, fit from the
      // static corpus — the stored-centroid shape), exact (no horizon).
      // Single-file fixture → one micro-batch → the verdicts read back
      // from the sink equal the batch operator exactly; the multi-batch
      // == batch invariance (carried per-cell state) is pinned in
      // StreamingSpec.
      val static = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cents = Similarity.centroidsByIds(
        static.union(static.filter(col("vec_id") < 50)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))),
        "vec_id", "embedding", 0L to 7L)
      val schema = t(s, dir, "embeddings").schema
      val stream = s.readStream.schema(schema)
        .parquet(s"$dir/embeddings.parque[t]")
        .select(col("vec_id"), col("embedding"))
      val streamU = stream.union(stream.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val sink = runSink("semstream")((sink, ckpt) =>
        graft.streaming.Streaming.semanticDedupToSink(streamU, "vec_id",
          "embedding", cents, threshold = 0.8, sink, ckpt,
          horizonBatches = 0))
      readSink(s, s"$sink/data")
        .select(col("id").as("vec_id"), col("cell"), col("keep"))
        .orderBy(col("vec_id"))
    },
      // the STREAMING twin computes the identical verdict set (single-file
      // fixture → one micro-batch; multi-batch == batch pinned in
      // StreamingSpec), so it shares the replay verbatim
      semDedupOracleSql)
  )
}
