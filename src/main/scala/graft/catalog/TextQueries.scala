package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps
import graft.ext.{Bpe, Corpus, Dsir, LangModel, TextAnalysis}
import graft.spec._
import graft.SparkEntry.runnerFor
import graft.catalog.Shared._

/** Text analysis and curation: token counts, quality and language
  * signals, LM perplexity, DSIR selection, contamination, span and line
  * dedup, PII redaction, sampling, sequence packing, exports and
  * fingerprints. */
object TextQueries {

  /** Shared CTE prefix of the two DSIR oracles: hashed unigram+bigram
    * buckets (md5 60-bit prefix mod m — the identical primitive in both
    * engines, see [[graft.ext.Dsir.md5Bucket60]]), add-1-smoothed
    * per-bucket log-ratio table over ALL m buckets, integer micro-nat doc
    * weights. Ends with `aw` = (doc_id, n_feats, w_u6) for every doc. */
  private def dsirWeightsSqlCtes: String = {
    val m = 4096
    def bucket(e: String) =
      s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT) % $m"
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
       |    x -> length(x) > 0) AS ws FROM documents),
       |feat AS (
       |  SELECT doc_id, unnest(list_concat(
       |    list_transform(ws, t -> ${bucket("t")}),
       |    CASE WHEN len(ws) < 2 THEN [] ELSE
       |      list_transform(range(len(ws) - 1), i ->
       |        ${bucket("ws[CAST(i AS INT) + 1] || ' ' || ws[CAST(i AS INT) + 2]")})
       |    END)) AS f
       |  FROM w),
       |tfeat AS (SELECT feat.f FROM feat
       |          JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
       |ct AS (SELECT f, count(*) AS ct FROM tfeat GROUP BY 1),
       |cq AS (SELECT f, count(*) AS cq FROM feat GROUP BY 1),
       |tt AS (SELECT count(*) AS tt FROM tfeat),
       |tq AS (SELECT count(*) AS tq FROM feat),
       |r AS (
       |  SELECT g.f,
       |    CAST(round((
       |      ln((CAST(coalesce(ct.ct, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
       |         (CAST(tt.tt AS DOUBLE) + CAST($m.0 AS DOUBLE))) -
       |      ln((CAST(coalesce(cq.cq, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE)) /
       |         (CAST(tq.tq AS DOUBLE) + CAST($m.0 AS DOUBLE)))
       |    ) * CAST(1e6 AS DOUBLE)) AS BIGINT) AS qllr
       |  FROM range($m) g(f) LEFT JOIN ct USING (f) LEFT JOIN cq USING (f)
       |  CROSS JOIN tt CROSS JOIN tq),
       |dw AS (SELECT feat.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |         CAST(sum(r.qllr) AS BIGINT) AS w_u6
       |       FROM feat JOIN r USING (f) GROUP BY 1),
       |aw AS (SELECT d.doc_id, coalesce(dw.n_feats, 0) AS n_feats,
       |         coalesce(dw.w_u6, 0) AS w_u6
       |       FROM documents d LEFT JOIN dw USING (doc_id))
       |""".stripMargin
  }

  /** Shared by q_pack_sequences and its streaming twin q_pack_stream —
    * the single-file fixture arrives as one micro-batch, so the
    * streaming layout must equal the batch layout exactly. */
  private val packSequencesOracleSql: String =
    """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |      w -> length(w) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |ps AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS token_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, token_offset,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor(token_offset / 512.0) AS BIGINT) END AS first_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 512.0) AS BIGINT)
        |    END AS last_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 512.0) AS BIGINT)
        |       - CAST(floor(token_offset / 512.0) AS BIGINT) + 1
        |    ELSE 0 END AS n_seqs
        |FROM ps ORDER BY doc_id""".stripMargin

  val queries: Seq[Query] = Seq(

    Query("q_token_count", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |CASE WHEN length(trim(regexp_replace(regexp_replace(regexp_replace(text,
        |       '([a-zA-Z])([0-9])', '\1 \2', 'g'), '([0-9])([a-zA-Z])', '\1 \2', 'g'),
        |       '([a-z])([A-Z])', '\1 \2', 'g'))) = 0 THEN 0
        |     ELSE len(regexp_split_to_array(trim(regexp_replace(regexp_replace(regexp_replace(text,
        |       '([a-zA-Z])([0-9])', '\1 \2', 'g'), '([0-9])([a-zA-Z])', '\1 \2', 'g'),
        |       '([a-z])([A-Z])', '\1 \2', 'g')), '\s+')) END AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_tfidf", (s, dir) => {
      // per-doc top-5 TF-IDF terms; rank by (tf desc, term asc) is integer-
      // deterministic so the whole result hash-compares (see tfidfTopTerms)
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("rank"))
    },
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z0-9]+'),
        |    x -> length(x) >= 3)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        |idf AS (SELECT term, ln((n.n + 1.0) / (COUNT(*) + 1.0)) AS idf
        |        FROM tf, n GROUP BY term, n.n),
        |ranked AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, idf.idf,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, tf.term ASC) AS BIGINT) AS rank
        |  FROM tf JOIN idf USING (term))
        |SELECT doc_id, rank, term, tf, round(tf * idf, 6) AS tfidf
        |FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin),

    Query("q_quality_score", (s, dir) => {
      val text = col("text")
      t(s, dir, "documents")
        .select(Seq(col("doc_id")) ++
          TextAnalysis.qualityFeatures(text).filter(_._1 != "mean_token_len")
            .map { case (n, c) =>
              (if (n == "n_tokens") c.cast("long") else c).as(n)
            } :+ TextAnalysis.qualityScore(text).as("quality"): _*)
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |length(text) AS n_chars,
        |CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS upper_ratio,
        |CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS digit_ratio,
        |CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END AS punct_ratio,
        |round(
        |  (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(text), '\s+')) END) BETWEEN 5 AND 100000
        |        THEN 1.0 ELSE 0.3 END)
        |  * (1.0 - least((CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) * 2.0, 1.0))
        |  * (1.0 - least((CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) * 4.0, 1.0)),
        |  6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_lang_id", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy(col("doc_id"))
    },
      """WITH tok AS (
        |  SELECT doc_id, text, regexp_split_to_array(lower(text), '[^\p{L}]+') AS toks
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, text,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','von'], t))) AS c_de,
        |    len(list_filter(toks, t -> list_contains(['the','and','of','to','a','in','is','that','it','for'], t))) AS c_en,
        |    len(list_filter(toks, t -> list_contains(['el','la','los','las','y','es','un','una','en','por'], t))) AS c_es,
        |    len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une','des','dans','pour'], t))) AS c_fr
        |  FROM tok)
        |SELECT doc_id,
        |  CASE WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
        |       WHEN greatest(c_de,c_en,c_es,c_fr) = 0 THEN 'und'
        |       WHEN c_de = greatest(c_de,c_en,c_es,c_fr) THEN 'de'
        |       WHEN c_en = greatest(c_de,c_en,c_es,c_fr) THEN 'en'
        |       WHEN c_es = greatest(c_de,c_en,c_es,c_fr) THEN 'es'
        |       WHEN c_fr = greatest(c_de,c_en,c_es,c_fr) THEN 'fr'
        |       ELSE 'und' END AS pred_lang
        |FROM cnt ORDER BY doc_id""".stripMargin),

    Query("q_lm_perplexity", (s, dir) => {
      // bigram stupid-backoff perplexity (ext.LangModel): fit on the even
      // doc_ids, score EVERYTHING — odd docs hit the backoff and OOV arms,
      // so the oracle exercises all three probability paths. Integer
      // micro-nat per-doc sums are the hash-stable field; ppl derives from
      // them by one exp + round(6). The oracle replays fit AND score.
      val docs = t(s, dir, "documents")
      val lm = LangModel.fit(docs.filter(col("doc_id") % 2 === 0), "text")
      LangModel.score(docs, "doc_id", "text", lm).orderBy(col("doc_id"))
    },
      // Full fit+score replay of ext.LangModel (bigram stupid backoff, fit on
      // even doc_ids). Every per-token log-prob is ONE correctly-rounded
      // division (+ one multiply on the backoff arm) then `ln`, quantized to
      // integer micro-nats BEFORE the per-doc sum — so the sum is order-free
      // integer arithmetic and the row hashes bit-for-bit. The CAST(0.4 AS
      // DOUBLE) is load-bearing (bare 0.4 is DECIMAL in DuckDB); `1e6` is
      // already DOUBLE. Constants come from LangModel so they cannot drift.
      (lmPerplexitySqlCtes +
        s"""SELECT docs.doc_id,
           |  coalesce(d.n_tokens, 0) AS n_tokens,
           |  coalesce(d.logp_u6, 0) AS logp_u6,
           |  $lmPplExprSql AS ppl
           |FROM documents docs LEFT JOIN d USING (doc_id)
           |ORDER BY doc_id""".stripMargin)),

    Query("q_dedup_spans", (s, dir) => {
      // ExactSubstr span dedup (Lee et al. 2021) over the corpus + planted
      // duplicates: full copies of docs 0..9 (every window duplicated →
      // whole doc dropped) and one partial plant (5 unique filler words +
      // doc 0's text → exactly the copied suffix drops, the sliding-window
      // property stride-k segments can't see). Originals stay first
      // occurrences and pass untouched.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val partial = docs.filter(col("doc_id") === 0)
        .select(lit(200000L).as("doc_id"),
          concat_ws(" ", lit("uq1 uq2 uq3 uq4 uq5"), col("text")).as("text"))
      Corpus.dedupSpans(docs.union(copies).union(partial),
          "text", "doc_id", k = 8)
        .orderBy(col("doc_id"))
    },
      // ExactSubstr replay: window STRINGS stand in for the engine's
      // xxhash64 of the word slice (identical decisions unless a 64-bit
      // collision, the q_dedup_segments precedent); first occurrence =
      // row_number over (doc_id, pos), coverage = any duplicate start s with
      // s <= p < s+k, reassembly whitespace-normalized
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id < 10
        |  UNION ALL SELECT 200000, 'uq1 uq2 uq3 uq4 uq5 ' || text
        |    FROM documents WHERE doc_id = 0),
        |w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ws FROM corpus),
        |win AS (
        |  SELECT doc_id, i AS pos, array_to_string(ws[i + 1 : i + 8], ' ') AS g
        |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i
        |        FROM w WHERE len(ws) >= 8)),
        |rn AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM win),
        |st AS (SELECT doc_id, list(pos ORDER BY pos) AS ss
        |       FROM rn WHERE rn > 1 GROUP BY doc_id),
        |kept AS (
        |  SELECT w.doc_id, ws,
        |    CASE WHEN st.ss IS NULL THEN ws
        |      ELSE list_filter(ws, (t, p) -> len(list_filter(st.ss,
        |        s -> s <= p - 1 AND p - 1 < s + 8)) = 0) END AS kw
        |  FROM w LEFT JOIN st USING (doc_id))
        |SELECT doc_id,
        |  coalesce(array_to_string(kw, ' '), '') AS dedup_text,
        |  CAST(len(ws) - len(kw) AS BIGINT) AS n_dropped_tokens
        |FROM kept ORDER BY doc_id""".stripMargin),

    Query("q_quality_probe", (s, dir) => {
      // fastText-SHAPE quality classifier with zero neural model: hashed-TF
      // features (scaled by /1024 — dyadic, exact in float) + the exact
      // difference-of-means probe, label = "looks like English". The whole
      // train→score pipeline is integer-exact (weightsExact/scoresExact
      // contract), so the classifier's OUTPUT hashes bit-for-bit.
      val docs = t(s, dir, "documents")
      val emb = docs.select(col("doc_id"), col("lang"),
        transform(TextAnalysis.hashedTfEmbedding(col("text"), 64),
          x => x / 1024.0f).as("emb"))
      graft.ml.DiffOfMeans.scoresExact(emb, col("doc_id"), col("emb"),
          col("lang") === "en")
        .orderBy(col("vec_id"))
    },
      // quality-probe replay: hashed-TF features rebuilt exactly (signed
      // bucket counts / 1024 — dyadic), then the q_probe_predict
      // quantized-exact train→score arithmetic verbatim
      """WITH w0 AS (
        |  SELECT doc_id, lang = 'en' AS is_pos,
        |    list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |      x -> length(x) > 0) AS ws FROM documents),
        |h AS (
        |  SELECT doc_id, is_pos, list_transform(ws, t ->
        |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w0),
        |q AS (
        |  SELECT doc_id, is_pos, dim,
        |    CAST(round((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(hs, v -> CASE WHEN v % 64 = dim
        |        THEN CAST(1 AS BIGINT) - ((v >> 59) & 1) * 2
        |        ELSE CAST(0 AS BIGINT) END)),
        |      (a, b) -> a + b) AS DOUBLE) / CAST(1024 AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS qx
        |  FROM (SELECT doc_id, is_pos, hs, unnest(range(64)) AS dim FROM h)),
        |w AS (
        |  SELECT dim,
        |    CAST(SUM(CASE WHEN is_pos THEN qx END) AS DOUBLE)
        |      / COUNT(CASE WHEN is_pos THEN 1 END) / 1e6
        |    - CAST(SUM(CASE WHEN NOT is_pos THEN qx END) AS DOUBLE)
        |      / COUNT(CASE WHEN NOT is_pos THEN 1 END) / 1e6 AS w
        |  FROM q GROUP BY dim),
        |qw AS (SELECT dim, CAST(round(w * 1e9) AS BIGINT) AS qw FROM w)
        |SELECT q.doc_id AS vec_id,
        |  CAST(SUM(q.qx * qw.qw) AS DOUBLE) / 1e15 AS score
        |FROM q JOIN qw USING (dim)
        |GROUP BY q.doc_id ORDER BY vec_id""".stripMargin),

    Query("q_spans_graph", (s, dir) => {
      // ExactSubstr THROUGH THE SPEC LAYER: the corpus's own planted exact
      // duplicates (doc 178 etc.) drop; the expensive window pass is
      // content-addressed in the store. ids = file-order row indices.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(DedupSpansOp(SelectTextColumnOp(ds, "text"), k = 8L))
        .orderBy(col("id"))
    },
      // spec-layer ExactSubstr twin: the raw corpus (no plants — its own
      // planted exact-duplicate docs are the drops), ids = row indices
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ws FROM documents),
        |win AS (
        |  SELECT doc_id, i AS pos, array_to_string(ws[i + 1 : i + 8], ' ') AS g
        |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws) - 7)) AS i
        |        FROM w WHERE len(ws) >= 8)),
        |rn AS (SELECT doc_id, pos,
        |  row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM win),
        |st AS (SELECT doc_id, list(pos ORDER BY pos) AS ss
        |       FROM rn WHERE rn > 1 GROUP BY doc_id),
        |kept AS (
        |  SELECT w.doc_id, ws,
        |    CASE WHEN st.ss IS NULL THEN ws
        |      ELSE list_filter(ws, (t, p) -> len(list_filter(st.ss,
        |        s -> s <= p - 1 AND p - 1 < s + 8)) = 0) END AS kw
        |  FROM w LEFT JOIN st USING (doc_id))
        |SELECT doc_id AS id,
        |  coalesce(array_to_string(kw, ' '), '') AS dedup_text,
        |  CAST(len(ws) - len(kw) AS BIGINT) AS n_dropped_tokens
        |FROM kept ORDER BY id""".stripMargin),

    Query("q_dsir_select", (s, dir) => {
      // DSIR data selection (ext.Dsir): target = English docs, raw = the
      // whole corpus, m=4096 hashed unigram+bigram buckets, add-1
      // smoothing; deterministic top-50 by integer micro-nat importance
      // weight. The oracle replays bucketing, fit, scoring, and the cut.
      val docs = t(s, dir, "documents")
      val ratios = Dsir.fitLogRatios(s, docs.filter(col("lang") === "en"),
        docs, "text", m = 4096)
      val w = Dsir.importanceWeights(docs, "doc_id", "text", ratios, 4096)
      Dsir.selectTopK(w, "doc_id", 50)
        .orderBy(col("w_u6").desc, col("doc_id"))
    },
      (dsirWeightsSqlCtes +
        """SELECT doc_id, n_feats, w_u6 FROM aw
          |ORDER BY w_u6 DESC, doc_id LIMIT 50""".stripMargin)),

    Query("q_dsir_gumbel", (s, dir) => {
      // the paper's sampling rule: Gumbel-top-k with md5(seed:id) uniforms
      // — a pure function of (data, seed), so the draw itself is oracled
      val docs = t(s, dir, "documents")
      val ratios = Dsir.fitLogRatios(s, docs.filter(col("lang") === "en"),
        docs, "text", m = 4096)
      val w = Dsir.importanceWeights(docs, "doc_id", "text", ratios, 4096)
      Dsir.gumbelTopK(w, "doc_id", 50, seed = 13L)
        .orderBy(col("g_u6").desc, col("doc_id"))
    },
      // Gumbel-top-k replay: the uniform is the EXACT 52-bit md5 prefix of
      // 'seed:id' over 2^52 (both factors exactly representable), so the
      // only cross-engine wiggle is the last ulp of ln, absorbed by the
      // micro-nat quantization.
      (dsirWeightsSqlCtes +
        s"""SELECT doc_id, n_feats, w_u6,
           |  CAST(round((CAST(w_u6 AS DOUBLE) / CAST(1e6 AS DOUBLE) /
           |      CAST(1.0 AS DOUBLE) +
           |    -ln(-ln((CAST(CAST(('0x' || substr(md5('13:' ||
           |        CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE)
           |      + CAST(0.5 AS DOUBLE)) / CAST(4503599627370496 AS DOUBLE)))) *
           |    CAST(1e6 AS DOUBLE)) AS BIGINT) AS g_u6
           |FROM aw ORDER BY g_u6 DESC, doc_id LIMIT 50""".stripMargin)),

    Query("q_lm_graph", (s, dir) => {
      // LM PERPLEXITY THROUGH THE SPEC LAYER: content-addressed load →
      // TakeRowsOp(skip=2) fit slice (the even doc_ids, file order ==
      // doc_id) → LmPerplexityOp score column. The fitted counts ride the
      // store: a re-run is a scan, not a re-fit.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val lm = LmPerplexityOp(SelectTextColumnOp(ds, "text"),
        SelectTextColumnOp(TakeRowsOp(ds, skip = 2L), "text"))
      r.toFrame(lm)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value").as("ppl"))
        .orderBy(col("row_idx"))
    },
      // the spec-layer twin: TakeRowsOp(skip=2) selects the even doc_ids
      // (file order == doc_id), so the fit corpus is identical; output is
      // the per-row score column (row_idx, ppl)
      (lmPerplexitySqlCtes +
        s"""SELECT docs.doc_id AS row_idx, $lmPplExprSql AS ppl
           |FROM documents docs LEFT JOIN d USING (doc_id)
           |ORDER BY row_idx""".stripMargin)),

    Query("q_lm_trigram", (s, dir) => {
      // trigram stupid backoff (LangModel.fit3/score3): all five count
      // tables derive from ONE BOS²-prefixed triple stream, so every
      // backoff order is well-normalized; fit on even doc_ids, score all —
      // the tri, bi, and uni/OOV arms are all exercised and replayed.
      val docs = t(s, dir, "documents")
      val lm = LangModel.fit3(docs.filter(col("doc_id") % 2 === 0), "text")
      LangModel.score3(docs, "doc_id", "text", lm).orderBy(col("doc_id"))
    }, {
      // trigram replay: same quantized-arm discipline as the bigram oracle,
      // one extra context column and one extra backoff order
      val bos = LangModel.Bos
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents),
         |p AS (
         |  SELECT doc_id, i AS pos,
         |    CASE WHEN i <= 1 THEN '$bos' ELSE ws[i - 1] END AS u,
         |    CASE WHEN i = 0 THEN '$bos' ELSE ws[i] END AS v,
         |    ws[i + 1] AS w2
         |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS i FROM w)),
         |fitp AS (SELECT * FROM p WHERE doc_id % 2 = 0),
         |tri AS (SELECT u, v, w2, count(*) AS c3 FROM fitp GROUP BY 1, 2, 3),
         |bctx AS (SELECT u, v, count(*) AS c2c FROM fitp GROUP BY 1, 2),
         |bi AS (SELECT v, w2, count(*) AS c2 FROM fitp GROUP BY 1, 2),
         |uctx AS (SELECT v, count(*) AS c1c FROM fitp GROUP BY 1),
         |uni AS (SELECT w2, count(*) AS c1 FROM fitp GROUP BY 1),
         |tot AS (SELECT count(*) AS total_tokens FROM fitp),
         |sc AS (
         |  SELECT p.doc_id,
         |    CAST(round(CASE
         |      WHEN tri.c3 IS NOT NULL AND bctx.c2c IS NOT NULL
         |        THEN ln(CAST(tri.c3 AS DOUBLE) / CAST(bctx.c2c AS DOUBLE))
         |      WHEN bi.c2 IS NOT NULL AND uctx.c1c IS NOT NULL
         |        THEN ln(CAST(${LangModel.Backoff} AS DOUBLE) *
         |          (CAST(bi.c2 AS DOUBLE) / CAST(uctx.c1c AS DOUBLE)))
         |      ELSE ln(CAST(${LangModel.Backoff} AS DOUBLE) *
         |        CAST(${LangModel.Backoff} AS DOUBLE) *
         |        (CAST(coalesce(uni.c1, 1) AS DOUBLE) /
         |         CAST(tot.total_tokens AS DOUBLE)))
         |      END * CAST(${LangModel.Quant} AS DOUBLE)) AS BIGINT) AS qlp
         |  FROM p
         |  LEFT JOIN tri ON tri.u = p.u AND tri.v = p.v AND tri.w2 = p.w2
         |  LEFT JOIN bctx ON bctx.u = p.u AND bctx.v = p.v
         |  LEFT JOIN bi ON bi.v = p.v AND bi.w2 = p.w2
         |  LEFT JOIN uctx ON uctx.v = p.v
         |  LEFT JOIN uni ON uni.w2 = p.w2
         |  CROSS JOIN tot),
         |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |        CAST(sum(qlp) AS BIGINT) AS logp_u6 FROM sc GROUP BY 1)
         |SELECT docs.doc_id,
         |  coalesce(d.n_tokens, 0) AS n_tokens,
         |  coalesce(d.logp_u6, 0) AS logp_u6,
         |  $lmPplExprSql AS ppl
         |FROM documents docs LEFT JOIN d USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    }),

    Query("q_lm_stream", (s, dir) => {
      // the STREAMING twin under the SAME oracle as q_lm_perplexity: an
      // availableNow file stream scored per micro-batch against the STATIC
      // model fit on the even doc_ids — no cross-batch state, so the
      // verdicts read back from the sink equal the batch scorer's bit for
      // bit (multi-batch invariance pinned in StreamingSpec)
      val static = t(s, dir, "documents")
      val lm = LangModel.fit(static.filter(col("doc_id") % 2 === 0), "text")
      val stream = s.readStream.schema(static.schema)
        .parquet(s"$dir/documents.parque[t]")
      val sink = runSink("lmstream")((sink, ckpt) =>
        graft.streaming.Streaming.pinnedLmScoreToSink(
          stream.select(col("doc_id"), col("text")), "doc_id", "text", lm,
          sink, ckpt))
      readSink(s, s"$sink/data")
        .orderBy(col("doc_id"))
    },
      // the streaming twin scores the same rows against the same even-doc_id
      // model with no cross-batch state — SAME oracle as the batch query
      (lmPerplexitySqlCtes +
        s"""SELECT docs.doc_id,
           |  coalesce(d.n_tokens, 0) AS n_tokens,
           |  coalesce(d.logp_u6, 0) AS logp_u6,
           |  $lmPplExprSql AS ppl
           |FROM documents docs LEFT JOIN d USING (doc_id)
           |ORDER BY doc_id""".stripMargin)),

    Query("q_dsir_graph", (s, dir) => {
      // DSIR THROUGH THE SPEC LAYER: lang category → ==en boolean → masked
      // target slice → DsirSelectOp top-50 against the full text column —
      // the selection set is content-addressed like every other store
      // result. Same fit/score/cut as q_dsir_select, ids = row indices.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val isEn = CategoryToBooleanOp(
        SelectCategoricalColumnOp(ds, "lang"), Some(Seq("en")))
      val sel = DsirSelectOp(
        SelectTextColumnOp(ds, "text"),
        SelectTextColumnOp(MaskRowsOp(ds, isEn), "text"),
        m = 4096L, k = 50L)
      r.toFrame(sel)
        .select(col("id").as("row_idx"), col("n_feats"), col("w_u6"))
        .orderBy(col("w_u6").desc, col("row_idx"))
    },
      // spec-layer DSIR twin: target mask (lang == 'en') and ids both ride
      // file-order row indices, which equal doc_id on this table
      (dsirWeightsSqlCtes +
        """SELECT doc_id AS row_idx, n_feats, w_u6 FROM aw
          |ORDER BY w_u6 DESC, row_idx LIMIT 50""".stripMargin)),

    Query("q_curate_pipeline", (s, dir) => {
      // END-TO-END CURATION THROUGH THE SPEC/RUNNER LAYER: content-addressed
      // load → benchmark slice (every 20th row, TakeRowsOp) → contamination
      // flag (broadcast gram hashes) → keep-clean mask → exact dedup (first
      // copy per digest) → exact stratified half-sample per lang →
      // JinjaTemplatize render. Five ops deep, three positional re-indexes;
      // the oracle replays every stage over the same positional identity.
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val benchText = SelectTextColumnOp(TakeRowsOp(ds, skip = 20L), "text")
      val flag = ContaminationFlagOp(
        SelectTextColumnOp(ds, "text"), benchText, n = 5L)
      val clean = MaskRowsOp(ds, BooleanLogicOp("not", flag, flag))
      val dedup = DropExactDuplicatesOp(clean,
        SelectTextColumnOp(clean, "text"))
      val samp = StratifiedSampleOp(dedup,
        SelectCategoricalColumnOp(dedup, "lang"), frac = 0.5)
      val rendered = JinjaTemplatizeOp("[{{lang}}] {{text}}", Map(
        "lang" -> SelectCategoricalColumnOp(samp, "lang"),
        "text" -> SelectTextColumnOp(samp, "text")))
      r.toFrame(samp).select(col("doc_id"), col(ColumnOps.RowIdx))
        .join(r.toFrame(rendered)
          .select(col(ColumnOps.RowIdx), col("value").as("rendered")),
          ColumnOps.RowIdx)
        .select(col("doc_id"), col("rendered"))
        .orderBy(col("doc_id"))
    },
      // each pipeline stage replayed over DuckDB's file-order row ids:
      // contamination semi-join → mask re-index → first-occurrence dedup
      // re-index → md5-ranked per-lang half sample → template concat
      """WITH base AS (
        |  SELECT doc_id, text, lang, row_number() OVER () - 1 AS rid
        |  FROM documents),
        |tw AS (SELECT rid, list_filter(regexp_split_to_array(trim(text), '[ \t\n\f\r]+'),
        |  x -> length(x) > 0) AS ws FROM base),
        |gr AS (SELECT rid, list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
        |  i -> array_to_string(ws[i:i+4], ' ')) AS gs FROM tw),
        |bg AS (SELECT DISTINCT g FROM
        |  (SELECT unnest(gs) AS g FROM gr WHERE rid % 20 = 0)),
        |cont AS (SELECT DISTINCT rid FROM
        |  (SELECT rid, unnest(gs) AS g FROM gr) t JOIN bg USING (g)),
        |clean AS (
        |  SELECT doc_id, text, lang, row_number() OVER (ORDER BY rid) - 1 AS ridx
        |  FROM base WHERE rid NOT IN (SELECT rid FROM cont)),
        |firsts AS (
        |  SELECT doc_id, text, lang, ridx,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY ridx) AS occ
        |  FROM clean),
        |dedup AS (
        |  SELECT doc_id, text, lang, row_number() OVER (ORDER BY ridx) - 1 AS didx
        |  FROM firsts WHERE occ = 1),
        |samp AS (
        |  SELECT doc_id, text, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft:' || CAST(didx AS VARCHAR)), didx) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM dedup)
        |SELECT doc_id, '[' || lang || '] ' || text AS rendered
        |FROM samp WHERE rk <= floor(n * 0.5) ORDER BY doc_id""".stripMargin),

    Query("q_contamination", (s, dir) => {
      // benchmark-contamination: docs sharing any word 5-gram with the
      // "benchmark" slice (every 20th doc). Benchmark grams broadcast.
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 20 === 0)
      val train = docs.filter(col("doc_id") % 20 =!= 0)
      Corpus.contamination(train, bench, "text", "doc_id", n = 5)
        .orderBy(col("doc_id"))
    },
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
        |    i -> array_to_string(ws[i:i+4], ' ')) AS gs FROM w),
        |b AS (SELECT DISTINCT g FROM
        |  (SELECT unnest(gs) AS g FROM g WHERE doc_id % 20 = 0)),
        |tg AS (SELECT DISTINCT doc_id, g FROM
        |  (SELECT doc_id, unnest(gs) AS g FROM g WHERE doc_id % 20 <> 0)),
        |ov AS (SELECT tg.doc_id, count(*) AS n FROM tg JOIN b USING (g)
        |       GROUP BY tg.doc_id)
        |SELECT w.doc_id,
        |  CAST(coalesce(ov.n, 0) AS BIGINT) AS n_overlap_grams,
        |  coalesce(ov.n, 0) >= 1 AS is_contaminated
        |FROM w LEFT JOIN ov ON w.doc_id = ov.doc_id
        |WHERE w.doc_id % 20 <> 0 ORDER BY w.doc_id""".stripMargin),

    Query("q_dedup_segments", (s, dir) => {
      // corpus-wide first-occurrence segment dedup (8-word segments);
      // oracle recomputes with a window in DuckDB
      Corpus.dedupSegments(t(s, dir, "documents"), "text", "doc_id", k = 8)
        .orderBy(col("doc_id"))
    },
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ws FROM documents),
        |s AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(ws[i*8+1 : least((i+1)*8, len(ws))], ' ') AS seg
        |  FROM (SELECT doc_id, ws,
        |          unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS i
        |        FROM w)),
        |k AS (SELECT doc_id, seg_idx, seg,
        |        row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |      FROM s),
        |r AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS dedup_text
        |      FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT w.doc_id, coalesce(r.dedup_text, '') AS dedup_text
        |FROM w LEFT JOIN r ON w.doc_id = r.doc_id ORDER BY w.doc_id""".stripMargin),

    Query("q_redact_pii", (s, dir) => {
      // deterministic PII injected per doc (base corpus has none), then
      // redacted — exercises all three patterns and their ordering
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com at 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, dir, "documents")
        .select(col("doc_id"), Corpus.redactPII(injected).as("redacted"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || CAST(doc_id AS VARCHAR)
        |          || '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |          || '.7 or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+[0-9][0-9-]{6,14}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_gopher_rules", (s, dir) => {
      val rules = Corpus.gopherRules(col("text"), minWords = 20, maxWords = 60,
        minMeanWordLen = 3.0, maxMeanWordLen = 6.0, minUniqueFrac = 0.3)
      t(s, dir, "documents")
        .select(col("doc_id") +: rules.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    },
      """WITH w AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ws FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CASE WHEN len(ws) > 0
        |    THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws)
        |    ELSE 0.0 END AS mean_word_len,
        |  CASE WHEN len(ws) > 0
        |    THEN CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
        |    ELSE 0.0 END AS unique_frac,
        |  list_has_any(ws, ['the','a','of','to','and']) AS ok_stopword
        |  FROM w)
        |SELECT doc_id, n_words, mean_word_len, unique_frac,
        |  (n_words >= 20 AND n_words <= 60) AS ok_word_count,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 6.0) AS ok_mean_word_len,
        |  (unique_frac >= 0.3) AS ok_unique_frac,
        |  ok_stopword,
        |  (n_words >= 20 AND n_words <= 60 AND mean_word_len >= 3.0
        |   AND mean_word_len <= 6.0 AND unique_frac >= 0.3 AND ok_stopword) AS keep
        |FROM f ORDER BY doc_id""".stripMargin),

    Query("q_stratified_sample", (s, dir) => {
      // exact floor(0.3 * |stratum|) per lang, md5-ranked (seed "graft")
      Corpus.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
          frac = 0.3)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang FROM r
        |WHERE rk <= floor(n * 0.3 + 1e-9) ORDER BY doc_id""".stripMargin),

    Query("q_mixture_sample", (s, dir) => {
      // domain re-weighting: keep half of en, all of zh, a quarter of the
      // rest — exact floor counts per lang, md5-ranked (seed "graft")
      Corpus.mixtureSample(t(s, dir, "documents"), "lang", "doc_id",
          fracs = Map("en" -> 0.5, "zh" -> 1.0), defaultFrac = 0.25)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      """WITH r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang) AS n,
        |    CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 1.0 ELSE 0.25 END AS frac
        |  FROM documents)
        |SELECT doc_id, lang FROM r
        |WHERE rk <= floor(n * frac + 1e-9) ORDER BY doc_id""".stripMargin),

    Query("q_pack_sequences", (s, dir) => {
      // concat-and-chunk training layout at seq_len=512: every doc's token
      // offset and sequence range via the two-phase distributed prefix-sum
      // (no global window, no eager driver action — the range-bucket bound
      // is a broadcast 1-row max joined in-plan)
      Corpus.packSequences(t(s, dir, "documents"), "doc_id",
          size(Corpus.words(col("text"))), seqLen = 512L)
        .orderBy(col("doc_id"))
    }, packSequencesOracleSql),

    Query("q_train_export", (s, dir) => {
      // end-to-end tokenizer-aware export: LEARN the tokenizer (6 BPE
      // merges over the unique-word table), re-tokenize the corpus with
      // it, and pack the resulting counts into seqLen=256 training rows
      // — the tokenize→count→pack composition a real export job runs.
      // The oracle replays the merge loop, every word's learned
      // tokenization length, and the pack prefix-sum.
      val docs = t(s, dir, "documents")
      val merges = Bpe.trainMerges(docs, "text", BpeMerges)
      Corpus.packSequences(docs, "doc_id",
          size(Bpe.tokenizeColumn(col("text"), merges)), seqLen = 256L)
        .orderBy(col("doc_id"))
    },
      // tokenize → count → pack: the BPE chain's final word table gives
      // every word's learned tokenization length; per-doc sums feed the
      // pack prefix-sum replay at seqLen=256
      (bpeOracleCtes(BpeMerges) + s""",
        |wt AS (SELECT replace(seg, chr(31), '') AS word,
        |         CAST(len(list_filter(string_split(seg, chr(31)),
        |           x -> length(x) > 0)) AS BIGINT) AS n_tok
        |       FROM w$BpeMerges),
        |dw AS (SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
        |           x -> length(x) > 0)) AS word
        |       FROM documents),
        |cnt AS (SELECT d.doc_id, SUM(k.n_tok) AS s
        |        FROM dw d JOIN wt k USING (word) GROUP BY 1),
        |tok AS (SELECT doc_id, CAST(coalesce(c.s, 0) AS BIGINT) AS n_tokens
        |        FROM documents LEFT JOIN cnt c USING (doc_id)),
        |ps AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS token_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, token_offset,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor(token_offset / 256.0) AS BIGINT) END AS first_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 256.0) AS BIGINT)
        |    END AS last_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 256.0) AS BIGINT)
        |       - CAST(floor(token_offset / 256.0) AS BIGINT) + 1
        |    ELSE 0 END AS n_seqs
        |FROM ps ORDER BY doc_id""".stripMargin)),

    Query("q_dedup_lines", (s, dir) => {
      // CCNet-style corpus-wide duplicated-LINE removal: every doc gets
      // a planted boilerplate footer (15k copies — drops) and a unique
      // line (keeps); corpus-duplicated body lines drop too. The oracle
      // replays the digest counts, every verdict, and the line-order
      // rebuild.
      val d0 = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit("\nCOPYRIGHT BOILERPLATE FOOTER\nunique-"),
          col("doc_id")).as("text"))
      Corpus.dropDuplicatedLines(d0, "doc_id", "text", maxCopies = 10L)
        .orderBy(col("doc_id"))
    },
      """WITH d0 AS (SELECT doc_id,
        |  text || chr(10) || 'COPYRIGHT BOILERPLATE FOOTER'
        |       || chr(10) || 'unique-' || doc_id AS text
        |  FROM documents),
        |l AS (SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
        |        parts[CAST(i AS INT)] AS line
        |      FROM (SELECT doc_id, string_split(text, chr(10)) AS parts
        |            FROM d0),
        |           LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i) u),
        |c AS (SELECT md5(trim(line)) AS h, COUNT(*) AS n FROM l
        |      WHERE length(trim(line)) > 0 GROUP BY 1),
        |k AS (SELECT l.doc_id, l.pos, l.line,
        |        (c.h IS NOT NULL AND length(trim(l.line)) > 0) AS dropped
        |      FROM l LEFT JOIN (SELECT h FROM c WHERE n > 10) c
        |        ON md5(trim(l.line)) = c.h)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT dropped THEN line END,
        |    chr(10) ORDER BY pos), '') AS text_clean,
        |  CAST(coalesce(SUM(CASE WHEN dropped THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_dropped_lines
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    Query("q_snapshot_diff", (s, dir) => {
      // crawl-refresh delta: old = the corpus; new = a synthetic recrawl
      // (every 17th doc ≡3 dropped, every 17th ≡5 edited, 300 new ids) —
      // the digest-keyed full-outer join classifies every id so the
      // pipeline re-processes ONLY added+changed. Documents never
      // shuffle; the join carries (id, 16-byte digest) rows.
      val old = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newer = old.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .union(old.filter(col("doc_id") < 300)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Corpus.snapshotDiff(old, newer, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      """WITH old AS (SELECT doc_id, text FROM documents),
        |nw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 5 THEN text || ' v2' ELSE text END AS text
        |  FROM old WHERE doc_id % 17 != 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM old WHERE doc_id < 300),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |        o.doc_id IS NOT NULL AS op, n.doc_id IS NOT NULL AS np,
        |        md5(o.text) AS od, md5(n.text) AS nd
        |      FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN NOT op THEN 'added' WHEN NOT np THEN 'removed'
        |    WHEN od IS NOT DISTINCT FROM nd THEN 'unchanged'
        |    ELSE 'changed' END AS status
        |FROM j ORDER BY doc_id""".stripMargin),

    Query("q_epoch_shuffle", (s, dir) => {
      // deterministic per-epoch shuffle into 8 training shards, two
      // epochs side by side: shard = epoch-salted replayable hash mod 8
      // (map-only), pos ranks within a shard only — no corpus-wide sort
      // anywhere. The oracle replays both epochs' layouts row for row;
      // epoch re-salting makes them uncorrelated yet each reproducible.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val e1 = Corpus.epochShards(docs, "doc_id", epoch = 1L, numShards = 8)
        .withColumn("epoch", lit(1L))
      val e2 = Corpus.epochShards(docs, "doc_id", epoch = 2L, numShards = 8)
        .withColumn("epoch", lit(2L))
      e1.union(e2)
        .select(col("epoch"), col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("epoch"), col("shard"), col("pos"))
    },
      """WITH e AS (SELECT unnest(range(1, 3)) AS epoch),
        |h AS (SELECT epoch, doc_id,
        |        CAST('0x'||substr(md5('epoch'||chr(31)||epoch||chr(31)||
        |          CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) AS eh
        |      FROM documents, e),
        |s AS (SELECT epoch, doc_id, eh % 8 AS shard,
        |        CAST(row_number() OVER (PARTITION BY epoch, eh % 8
        |          ORDER BY eh, doc_id) AS BIGINT) - 1 AS pos
        |      FROM h)
        |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, shard, pos
        |FROM s ORDER BY epoch, shard, pos""".stripMargin),

    Query("q_bpe_fertility", (s, dir) => {
      // tokenizer EVALUATION per language: fertility = BPE tokens per
      // whitespace word after the learned merges — the metric multilingual
      // pipelines gate tokenizers on (a vocab trained on one language
      // over-segments the others; fertility per lang exposes it).
      // Integer micro-unit ratio keeps the hash exact; one map pass +
      // one tiny per-lang aggregate at any corpus size.
      val docs = t(s, dir, "documents")
      val merges = Bpe.trainMerges(docs, "text", BpeMerges)
      docs.select(col("lang"),
          size(Bpe.tokenizeColumn(col("text"), merges)).cast("long").as("t"),
          size(Corpus.words(col("text"))).cast("long").as("w"))
        .groupBy(col("lang"))
        .agg(sum(col("t")).as("tokens"), sum(col("w")).as("words"))
        .select(col("lang"), col("tokens"), col("words"),
          when(col("words") > 0,
            expr("tokens * 1000000 div words")).as("fertility_u6"))
        .orderBy(col("lang"))
    },
      // fertility replay: the same merge chain + per-word token lengths,
      // aggregated per language against the whitespace word counts
      (bpeOracleCtes(BpeMerges) + s""",
        |wt AS (SELECT replace(seg, chr(31), '') AS word,
        |         CAST(len(list_filter(string_split(seg, chr(31)),
        |           x -> length(x) > 0)) AS BIGINT) AS n_tok
        |       FROM w$BpeMerges),
        |dw AS (SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
        |           x -> length(x) > 0)) AS word
        |       FROM documents),
        |dt AS (SELECT d.doc_id, SUM(k.n_tok) AS t
        |       FROM dw d JOIN wt k USING (word) GROUP BY 1),
        |wc AS (SELECT doc_id, CAST(len(list_filter(
        |         regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
        |         x -> length(x) > 0)) AS BIGINT) AS w
        |       FROM documents),
        |pl AS (SELECT lang,
        |         CAST(SUM(coalesce(dt.t, 0)) AS BIGINT) AS tokens,
        |         CAST(SUM(wc.w) AS BIGINT) AS words
        |       FROM documents dd
        |       LEFT JOIN dt ON dd.doc_id = dt.doc_id
        |       JOIN wc ON dd.doc_id = wc.doc_id
        |       GROUP BY 1)
        |SELECT lang, tokens, words,
        |  CASE WHEN words > 0 THEN tokens * 1000000 // words END
        |    AS fertility_u6
        |FROM pl ORDER BY lang""".stripMargin)),

    Query("q_shard_export", (s, dir) => {
      // END-TO-END SHARDED TRAINING EXPORT (verdict r16 #6): LEARN the
      // tokenizer (6 BPE merges), stream the corpus through the
      // exactly-once export sink — tokenize → epoch-shard → pack-per-shard
      // → ACTUAL per-shard parquet files — then read THE FILES back. What
      // the gate hashes is the on-disk layout a trainer would stream, not
      // an in-memory frame; the oracle replays merges, per-word token
      // lengths, the epoch-salted shard hash, and both per-shard prefix
      // sums. Restart exactly-once is pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val merges = Bpe.trainMerges(docs, "text", BpeMerges)
      val sink = java.nio.file.Files
        .createTempDirectory("graft-shard-export-").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-shard-ckpt-").toString
      val stream = s.readStream.schema(docs.schema)
        .parquet(s"$dir/documents.parque[t]")
      graft.streaming.Streaming.shardedExportToSink(
        stream.select(col("doc_id"), col("text")), "doc_id",
        size(Bpe.tokenizeColumn(col("text"), merges)),
        epoch = 1L, numShards = 4, seqLen = 256L, sink, ckpt)
      s.read.parquet(s"$sink/data")
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          col("pos"), col("n_tokens"), col("token_offset"),
          col("first_seq"), col("last_seq"), col("n_seqs"))
        .orderBy(col("shard"), col("pos"))
    },
      // sharded-export replay: BPE merges + per-word token lengths (the
      // q_train_export chain), then the epoch-1 shard hash and BOTH
      // per-shard prefix sums (row rank + token offset), seq range at 256
      (bpeOracleCtes(BpeMerges) + s""",
        |wt AS (SELECT replace(seg, chr(31), '') AS word,
        |         CAST(len(list_filter(string_split(seg, chr(31)),
        |           x -> length(x) > 0)) AS BIGINT) AS n_tok
        |       FROM w$BpeMerges),
        |dw AS (SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
        |           x -> length(x) > 0)) AS word
        |       FROM documents),
        |cntx AS (SELECT d.doc_id, SUM(k.n_tok) AS s
        |        FROM dw d JOIN wt k USING (word) GROUP BY 1),
        |tokx AS (SELECT doc_id, CAST(coalesce(c.s, 0) AS BIGINT) AS n_tokens
        |        FROM documents LEFT JOIN cntx c USING (doc_id)),
        |eh AS (SELECT doc_id, n_tokens,
        |        CAST('0x'||substr(md5('epoch'||chr(31)||'1'||chr(31)||
        |          CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) AS h
        |      FROM tokx),
        |sp AS (SELECT doc_id, n_tokens, h % 4 AS shard,
        |        CAST(row_number() OVER (PARTITION BY h % 4
        |          ORDER BY h, doc_id) AS BIGINT) - 1 AS pos,
        |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY h % 4
        |          ORDER BY h, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS token_offset
        |      FROM eh)
        |SELECT doc_id, shard, pos, n_tokens, token_offset,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor(token_offset / 256.0) AS BIGINT) END AS first_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 256.0) AS BIGINT)
        |    END AS last_seq,
        |  CASE WHEN n_tokens > 0
        |    THEN CAST(floor((token_offset + n_tokens - 1) / 256.0) AS BIGINT)
        |       - CAST(floor(token_offset / 256.0) AS BIGINT) + 1
        |    ELSE 0 END AS n_seqs
        |FROM sp ORDER BY shard, pos""".stripMargin)),

    Query("q_pack_stream", (s, dir) => {
      // the STREAMING form under the SAME oracle: an availableNow file
      // stream over the corpus, per-batch distributed packing + the
      // running token total carried in the sink's state — for the
      // single-file fixture the layout read back from the sink equals
      // the batch layout exactly; the multi-batch contiguity contract is
      // pinned in StreamingSpec
      val static = t(s, dir, "documents")
      // the fixture is a single parquet FILE; the streaming file source
      // needs a directory base, so a glob ([t] matches only 't') makes the
      // sf dir the base and the file the match
      val stream = s.readStream.schema(static.schema)
        .parquet(s"$dir/documents.parque[t]")
      val sink = runSink("packstream")((sink, ckpt) =>
        graft.streaming.Streaming.packSequencesToSink(
          stream.select(col("doc_id"), col("text")), "doc_id",
          size(Corpus.words(col("text"))), seqLen = 512L, sink, ckpt))
      readSink(s, s"$sink/data")
        .orderBy(col("doc_id"))
    },
      // identical layout contract through the STREAMING path
      packSequencesOracleSql),

    Query("q_repetition", (s, dir) => {
      val sig = Corpus.repetitionSignals(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id") +: sig.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    },
      """WITH lines AS (
        |  SELECT doc_id, list_filter(
        |    list_transform(string_split(text, chr(10)), l -> trim(l)),
        |    l -> length(l) > 0) AS ls
        |  FROM documents),
        |lf AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |  CASE WHEN len(ls) > 0
        |    THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls)
        |    ELSE 0.0 END AS dup_line_frac
        |  FROM lines),
        |ws AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    w -> length(w) > 0) AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 2
        |      THEN list_transform(generate_series(1, len(w) - 1),
        |        i -> w[i] || ' ' || w[i + 1])
        |      ELSE [] END AS gs
        |  FROM ws),
        |gx AS (SELECT doc_id, unnest(gs) AS g FROM grams),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM gx GROUP BY doc_id, g),
        |gm AS (SELECT doc_id, max(c) AS top_cnt, sum(c) AS n_grams
        |  FROM gc GROUP BY doc_id)
        |SELECT l.doc_id, l.n_lines, l.dup_line_frac,
        |  CAST(coalesce(gm.top_cnt, 0) AS BIGINT) AS top_2gram_count,
        |  CASE WHEN coalesce(gm.n_grams, 0) > 0
        |    THEN CAST(gm.top_cnt AS DOUBLE) / gm.n_grams
        |    ELSE 0.0 END AS top_2gram_frac
        |FROM lf l LEFT JOIN gm ON l.doc_id = gm.doc_id
        |ORDER BY l.doc_id""".stripMargin),

    Query("q_fingerprint", (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id,
        |md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    Query("q_fingerprint_rolling", (s, dir) => {
      // 64-bit Rabin-Karp-style rolling hash, replayed exactly in the
      // DuckDB oracle via HUGEINT mod-2^64 arithmetic
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.rollingHashUdf(col("text")).as("fp_rolling"))
        .orderBy(col("doc_id"))
    },
      // 64-bit wrapping polynomial hash replayed in SQL: HUGEINT arithmetic
      // mod 2^64, then two's-complement back to BIGINT. h*1000003 < 2^84 fits
      // HUGEINT; BMP-only data keeps JVM UTF-16 units == codepoints.
      """WITH n AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(1469598103934665603 AS HUGEINT),
        |        list_transform(range(length(norm)),
        |          i -> CAST(unicode(substr(norm, CAST(i AS INT)+1, 1)) AS HUGEINT))),
        |      (h, c) -> (h * 1000003 + c) % 18446744073709551616) AS uh
        |  FROM n)
        |SELECT doc_id,
        |  CAST(uh - CASE WHEN uh >= 9223372036854775808
        |                 THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS fp_rolling
        |FROM h ORDER BY doc_id""".stripMargin)
  )
}
