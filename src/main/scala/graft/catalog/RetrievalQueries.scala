package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps
import graft.ext.{Bm25, Corpus, Retrieval, Similarity, TextAnalysis}
import graft.spec._
import graft.SparkEntry.runnerFor
import graft.catalog.Shared._

/** Lexical and hybrid retrieval: BM25 (scan, on-disk index, streaming
  * append, compaction), phrase search, RRF fusion and its evaluation, and
  * passage retrieval over the chunked corpus. */
object RetrievalQueries {

  /** The chunked corpus as an ANN corpus: hashed-TF embeddings of the
    * q_chunk windows, composite id `doc_id·10⁴ + chunk_idx` (the same
    * attribution key q_chunk_bm25 uses). Model-free and SQL-replayable —
    * the dense mirror of the chunk→BM25 leg. */
  private def chunkEmb(s: SparkSession, dir: String): DataFrame =
    Corpus.chunkWords(t(s, dir, "documents"), "doc_id", "text",
        size = 32, overlap = 8)
      .select((col("doc_id") * 10000L + col("chunk_idx")).as("chunk_id"),
        TextAnalysis.hashedTfEmbedding(col("chunk_text"), 64).as("emb"))

  /** On-disk IVF index over the CHUNKED corpus's hashed-TF embeddings,
    * built once per (JVM, sf dir): centroids = the first chunk of docs
    * 0..7 (cell ids positional 0..7 — deterministic AND replayable by the
    * SQL oracle), chunk parquet partitioned by cell id. The passage-level
    * index dense RAG serving probes (q_chunk_ann). */
  private def chunkIvfIndexFor(s: SparkSession, dir: String): String =
    fixture("chunk-ivf-index", dir) { d =>
      val path = java.nio.file.Files.createTempDirectory("graft-chunk-ivf-").toString
      val emb = chunkEmb(s, d)
      Similarity.buildIvfIndex(emb, "chunk_id", "emb",
        Similarity.centroidsByIds(emb, "chunk_id", "emb",
          (0L until 8L).map(_ * 10000L)), path)
      path
    }

  /** On-disk inverted BM25 index, built once per (JVM, sf dir) —
    * q_bm25_indexed probes it instead of scanning the corpus. */
  private def bm25IndexFor(s: SparkSession, dir: String): String =
    fixture("bm25-index", dir) { d =>
      val path = java.nio.file.Files.createTempDirectory("graft-bm25-index-").toString
      Bm25.buildIndex(t(s, d, "documents"), "doc_id", "text", path)
      path
    }

  /** Head-of-corpus BM25 index (doc_id < 250) + the tail as a 3-file
    * parquet fixture (2 micro-batches under maxFilesPerTrigger=1) — the
    * streaming-ingest twin appends the tail into a COPY of the head
    * index, then its standing query must equal the full-corpus scan. */
  private def bm25HeadIndexFor(s: SparkSession, dir: String): String =
    fixture("bm25-head-index", dir) { d =>
      val path = java.nio.file.Files.createTempDirectory("graft-bm25-head-").toString
      Bm25.buildIndex(t(s, d, "documents").filter(col("doc_id") < 250),
        "doc_id", "text", path)
      path
    }

  private def bm25TailFixtureFor(s: SparkSession, dir: String): String =
    fixture("bm25-tail", dir) { d =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-bm25-tail-").toString + "/tail"
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") >= 250)
        .repartitionByRange(2, col("doc_id"))
        .write.mode("overwrite").parquet(path)
      path
    }

  /** The DCG discount literals the q_retrieval_eval oracle injects —
    * the SAME values [[graft.ext.Retrieval.rankingMetrics]] embeds in
    * the Spark plan, so neither engine evaluates log2 at query time. */
  private val DcgWeightsU6: Seq[Long] = Retrieval.dcgWeightsU6(10)

  /** Batch-retrieval gate queries (shared engine/oracle): overlapping
    * term sets exercise the union-stats df sharing, query 1 reverses the
    * fold order, query 2 is a single term. */
  private val MultiQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "merge", "window"),
    1L -> Seq("merge", "spark"),
    2L -> Seq("window"))

  /** Phrase-search gate (shared engine/oracle): a 2-word phrase that
    * occurs in the synthetic corpus at every sf. */
  private val PhraseTerms: Seq[String] = Seq("table", "hash")

  /** Batch-phrase gate (shared engine/oracle): the decontamination shape —
    * many phrases, one index read. Covers the scan phrase itself, reversed
    * word order, a single-word phrase, a 3-word phrase, and a phrase with
    * an absent term (must contribute zero rows, not an error). */
  private val MultiPhrases: Seq[(Long, Seq[String])] = Seq(
    0L -> PhraseTerms,
    1L -> PhraseTerms.reverse,
    2L -> Seq("hash"),
    3L -> Seq("the", "table", "hash"),
    4L -> Seq("zzz_absent_term", "table"))

  /** The CHUNKED corpus as a BM25 `w0` body (q_chunk_bm25): the q_chunk
    * windows with composite id doc_id·10⁴ + chunk_idx — re-splitting a
    * joined window equals the slice itself (words carry no whitespace),
    * so slicing the doc's word list IS the chunk tokenization. */
  private val bm25ChunksW0: String =
    """
      |  SELECT doc_id * 10000 + i AS doc_id,
      |    l[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)] AS ws
      |  FROM (SELECT doc_id, l,
      |          unnest(range(greatest((len(l) - 8 + 24 - 1) // 24, 1))) AS i
      |        FROM (SELECT doc_id,
      |                list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
      |                  x -> length(x) > 0) AS l
      |              FROM documents)
      |        WHERE len(l) > 0)""".stripMargin

  /** SQL mirror of [[graft.ext.TextAnalysis.phraseCount]] over a tokenized
    * `ws` list: contiguous-window occurrence count, 0 when shorter than
    * the phrase. */
  private def phraseCountSql(phrase: Seq[String]): String = {
    val p = phrase.length
    val conj = phrase.zipWithIndex
      .map { case (t, j) => s"ws[i + ${j + 1}] = '$t'" }.mkString(" AND ")
    s"CASE WHEN len(ws) >= $p THEN CAST(len(list_filter(" +
      s"range(0, len(ws) - ${p - 1}), i -> $conj)) AS BIGINT) " +
      s"ELSE CAST(0 AS BIGINT) END"
  }

  /** Batch-BM25 oracle ([[graft.ext.Bm25.rankMany]]): one stats row over
    * the UNION of all query terms, one UNION ALL branch per query folding
    * ITS terms in ITS order, per-query rank + cut. */
  private def bm25MultiOracleSql(queries: Seq[(Long, Seq[String])], k: Int,
                                 idSel: String): String = {
    val allTerms = queries.flatMap(_._2).distinct
    val posOf = allTerms.zipWithIndex.toMap
    val unions = queries.map { case (qid, ts) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    CAST(round(${bm25ContribSql(ts, posOf)} * CAST(1e6 AS DOUBLE)) AS BIGINT) AS score_u6
         |  FROM w CROSS JOIN st""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${bm25StatsCtes(allTerms)},
       |e AS (
       |  $unions),
       |r AS (SELECT query_id, doc_id, score_u6,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS rank FROM e)
       |SELECT query_id, rank, $idSel, score_u6 FROM r
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** BM25 oracle (q_bm25 and its spec-layer twin): same decimal literals
    * combined with the same IEEE ops as [[graft.ext.Bm25.rank]] (never
    * pre-evaluated constants), fixed term order in the score fold, ranking
    * on the quantized integer. `idSel` projects the id column (`doc_id` or
    * `doc_id AS id` for the row-index twin). */
  private def bm25OracleSql(idSel: String, wFilter: String = ""): String =
    s"""WITH ${bm25ScCtes(RrfTerms, wFilter)}
       |SELECT CAST(row_number() OVER (ORDER BY score_u6 DESC, doc_id)
       |    AS BIGINT) AS rank,
       |  $idSel, score_u6
       |FROM sc ORDER BY score_u6 DESC, doc_id LIMIT 10""".stripMargin

  /** RRF hybrid oracle (q_rrf and its spec twin): BM25 leg =
    * [[bm25ScCtes]] cut to the top-RrfPoolK; dense leg = the
    * q_hash_embed_ann hashed-TF replay scoring the QUERY TEXT's vector
    * against every document; fusion =
    * `round((1/(K+br) + 1/(K+dr))·1e12)` with an absent rank contributing
    * exactly 0 — same decimal literals, same IEEE op order (sparse term
    * first) as [[graft.ext.Retrieval.rrfFuse]]. */
  private def rrfOracleSql(idSel: String): String = {
    val dim = 64
    val qtext = RrfTerms.mkString(" ")
    val K = RrfKConst
    s"""WITH ${bm25ScCtes(RrfTerms)},
       |bt AS (
       |  SELECT doc_id, br FROM (
       |    SELECT doc_id, CAST(row_number() OVER (
       |      ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS br FROM sc)
       |  WHERE br <= $RrfPoolK),
       |hv AS (
       |  SELECT doc_id, list_transform(range($dim), d ->
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, h -> CASE WHEN h % $dim = d
       |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
       |        ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS DOUBLE)) AS vv
       |  FROM (SELECT doc_id, list_transform(ws, t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w)),
       |qv AS (
       |  SELECT list_transform(range($dim), d ->
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, h -> CASE WHEN h % $dim = d
       |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
       |        ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS DOUBLE)) AS vv
       |  FROM (SELECT list_transform(list_filter(
       |      regexp_split_to_array('$qtext', '[ \\t\\n\\f\\r]+'),
       |      x -> length(x) > 0), t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs)),
       |dsc AS (
       |  SELECT hv.doc_id,
       |    CASE WHEN sqrt(list_dot_product(qv.vv, qv.vv)) *
       |              sqrt(list_dot_product(hv.vv, hv.vv)) > 0
       |      THEN list_dot_product(qv.vv, hv.vv) /
       |        (sqrt(list_dot_product(qv.vv, qv.vv)) *
       |         sqrt(list_dot_product(hv.vv, hv.vv)))
       |      ELSE CAST(0.0 AS DOUBLE) END AS cosf
       |  FROM hv CROSS JOIN qv),
       |dt AS (
       |  SELECT doc_id, dr FROM (
       |    SELECT doc_id, CAST(row_number() OVER (
       |      ORDER BY cosf DESC, doc_id) AS BIGINT) AS dr FROM dsc)
       |  WHERE dr <= $RrfPoolK),
       |f AS (
       |  SELECT coalesce(bt.doc_id, dt.doc_id) AS doc_id,
       |    bt.br AS sparse_rank, dt.dr AS dense_rank,
       |    coalesce(CAST(1.0 AS DOUBLE) /
       |        (CAST($K AS DOUBLE) + CAST(bt.br AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE))
       |    + coalesce(CAST(1.0 AS DOUBLE) /
       |        (CAST($K AS DOUBLE) + CAST(dt.dr AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE)) AS fs
       |  FROM bt FULL OUTER JOIN dt ON bt.doc_id = dt.doc_id),
       |g AS (
       |  SELECT doc_id, CAST(round(fs * 1e12) AS BIGINT) AS rrf_u12,
       |    sparse_rank, dense_rank FROM f)
       |SELECT CAST(row_number() OVER (ORDER BY rrf_u12 DESC, doc_id)
       |    AS BIGINT) AS rank,
       |  $idSel, rrf_u12, sparse_rank, dense_rank
       |FROM g ORDER BY rrf_u12 DESC, doc_id LIMIT $RrfN""".stripMargin
  }

  /** Batch-RRF oracle (q_rrf_multi): the batch-BM25 branches cut to
    * top-RrfPoolK per query, the hashed-TF dense replay against a VALUES
    * table of the query texts, per-query full-outer fusion — every window
    * PARTITIONED by query_id, mirroring
    * [[graft.ext.Retrieval.rrfFusePerQuery]]. */
  private def rrfMultiOracleSql: String =
    s"""WITH $rrfMultiCtes
       |SELECT query_id, rank, doc_id, rrf_u12, sparse_rank, dense_rank
       |FROM r2 WHERE rank <= $RrfN ORDER BY query_id, rank""".stripMargin

  /** Per-query hybrid-eval oracle (q_rrf_eval): the q_rrf_multi fusion
    * CTEs give the per-query hybrid ranking; gains replay the head-term
    * tf labels from the same tokenized `w` table; metrics mirror
    * [[graft.ext.Retrieval.rankingMetricsPerQuery]] — shared DcgWeightsU6
    * literals, per-query ideal top-10, micro-unit floor division. */
  private def rrfEvalOracleSql: String = {
    val wcases = DcgWeightsU6.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
    val heads = MultiQueries
      .map { case (qid, ts) => s"($qid, '${ts.head}')" }.mkString(", ")
    s"""WITH $rrfMultiCtes,
       |tk AS (SELECT query_id, doc_id, rank FROM r2 WHERE rank <= 10),
       |qh(hqid, ht) AS (VALUES $heads),
       |gq AS (SELECT CAST(q.hqid AS BIGINT) AS query_id, w.doc_id,
       |    CAST(len(list_filter(w.ws, t -> t = q.ht)) AS BIGINT) AS gain
       |  FROM w CROSS JOIN qh q),
       |sc2 AS (SELECT tk.query_id, g.gain,
       |    g.gain * (CASE tk.rank $wcases END) AS contrib_u6,
       |    CASE WHEN g.gain > 0 THEN tk.rank END AS rel_rank
       |  FROM tk JOIN gq g
       |    ON tk.query_id = g.query_id AND tk.doc_id = g.doc_id),
       |m AS (SELECT query_id,
       |    CAST(COALESCE(SUM(contrib_u6), 0) AS BIGINT) AS dcg_u6,
       |    MIN(rel_rank) AS first_rel,
       |    CAST(SUM(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rel
       |  FROM sc2 GROUP BY 1),
       |ideal AS (SELECT query_id, gain, CAST(row_number() OVER (
       |    PARTITION BY query_id ORDER BY gain DESC, doc_id) AS BIGINT)
       |      AS rk FROM gq),
       |idcg AS (SELECT query_id,
       |    CAST(SUM(gain * (CASE rk $wcases END)) AS BIGINT) AS idcg_u6
       |  FROM ideal WHERE rk <= 10 GROUP BY 1),
       |qs AS (SELECT DISTINCT query_id FROM tk)
       |SELECT qs.query_id, CAST(10 AS BIGINT) AS k,
       |  CAST(COALESCE(m.n_rel, 0) AS BIGINT) AS n_rel,
       |  CAST(COALESCE(m.dcg_u6, 0) AS BIGINT) AS dcg_u6,
       |  CAST(COALESCE(i.idcg_u6, 0) AS BIGINT) AS idcg_u6,
       |  CAST(CASE WHEN COALESCE(i.idcg_u6, 0) > 0
       |       THEN COALESCE(m.dcg_u6, 0) * 1000000 // i.idcg_u6
       |       ELSE 0 END AS BIGINT) AS ndcg_u6,
       |  CAST(CASE WHEN m.first_rel IS NULL THEN 0
       |       ELSE 1000000 // m.first_rel END AS BIGINT) AS mrr_u6
       |FROM qs LEFT JOIN m ON qs.query_id = m.query_id
       |  LEFT JOIN idcg i ON qs.query_id = i.query_id
       |ORDER BY qs.query_id""".stripMargin
  }

  /** CTE chain shared by the batch-RRF oracles (q_rrf_multi and
    * q_rrf_eval): ends with `r2` = the per-query fused ranking. */
  private def rrfMultiCtes: String = {
    val dim = 64
    val K = RrfKConst
    val allTerms = MultiQueries.flatMap(_._2).distinct
    val posOf = allTerms.zipWithIndex.toMap
    val unions = MultiQueries.map { case (qid, ts) =>
      s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
         |    CAST(round(${bm25ContribSql(ts, posOf)} * CAST(1e6 AS DOUBLE)) AS BIGINT) AS score_u6
         |  FROM w CROSS JOIN st""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val qvals = MultiQueries.map { case (qid, ts) =>
      s"($qid, '${ts.mkString(" ")}')" }.mkString(", ")
    s"""${bm25StatsCtes(allTerms)},
       |e AS (
       |  $unions),
       |bt AS (
       |  SELECT query_id, doc_id, br FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY query_id
       |      ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS br FROM e)
       |  WHERE br <= $RrfPoolK),
       |hv AS (
       |  SELECT doc_id, list_transform(range($dim), d ->
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, h -> CASE WHEN h % $dim = d
       |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
       |        ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS DOUBLE)) AS vv
       |  FROM (SELECT doc_id, list_transform(ws, t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w)),
       |qq(query_id, qt) AS (VALUES $qvals),
       |qv AS (
       |  SELECT CAST(query_id AS BIGINT) AS query_id,
       |    list_transform(range($dim), d ->
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(hs, h -> CASE WHEN h % $dim = d
       |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
       |        ELSE CAST(0 AS BIGINT) END)),
       |      (a, b) -> a + b) AS DOUBLE)) AS vv
       |  FROM (SELECT query_id, list_transform(list_filter(
       |      regexp_split_to_array(qt, '[ \\t\\n\\f\\r]+'),
       |      x -> length(x) > 0), t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM qq)),
       |dsc AS (
       |  SELECT qv.query_id, hv.doc_id,
       |    CASE WHEN sqrt(list_dot_product(qv.vv, qv.vv)) *
       |              sqrt(list_dot_product(hv.vv, hv.vv)) > 0
       |      THEN list_dot_product(qv.vv, hv.vv) /
       |        (sqrt(list_dot_product(qv.vv, qv.vv)) *
       |         sqrt(list_dot_product(hv.vv, hv.vv)))
       |      ELSE CAST(0.0 AS DOUBLE) END AS cosf
       |  FROM hv CROSS JOIN qv),
       |dt AS (
       |  SELECT query_id, doc_id, dr FROM (
       |    SELECT query_id, doc_id, CAST(row_number() OVER (
       |      PARTITION BY query_id
       |      ORDER BY cosf DESC, doc_id) AS BIGINT) AS dr FROM dsc)
       |  WHERE dr <= $RrfPoolK),
       |f AS (
       |  SELECT coalesce(bt.query_id, dt.query_id) AS query_id,
       |    coalesce(bt.doc_id, dt.doc_id) AS doc_id,
       |    bt.br AS sparse_rank, dt.dr AS dense_rank,
       |    coalesce(CAST(1.0 AS DOUBLE) /
       |        (CAST($K AS DOUBLE) + CAST(bt.br AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE))
       |    + coalesce(CAST(1.0 AS DOUBLE) /
       |        (CAST($K AS DOUBLE) + CAST(dt.dr AS DOUBLE)),
       |      CAST(0.0 AS DOUBLE)) AS fs
       |  FROM bt FULL OUTER JOIN dt
       |    ON bt.query_id = dt.query_id AND bt.doc_id = dt.doc_id),
       |g AS (
       |  SELECT query_id, doc_id, CAST(round(fs * 1e12) AS BIGINT) AS rrf_u12,
       |    sparse_rank, dense_rank FROM f),
       |r2 AS (
       |  SELECT query_id, doc_id, rrf_u12, sparse_rank, dense_rank,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_u12 DESC, doc_id) AS BIGINT) AS rank FROM g)""".stripMargin
  }

  val queries: Seq[Query] = Seq(

    Query("q_bm25_graph", (s, dir) => {
      // BM25 THROUGH THE SPEC LAYER: a content-addressed ranked retrieval —
      // repeated curation queries hit the store, not the corpus
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(Bm25RankOp(SelectTextColumnOp(ds, "text"),
          Seq("spark", "merge", "window"), k = 10L))
        .orderBy(col("rank"))
    },
      // spec-layer twin: identical pipeline, ids = file-order row indices
      bm25OracleSql("doc_id AS id")),

    Query("q_hash_embed_ann", (s, dir) => {
      // text → ANN bridge: model-free hashed-TF embeddings (signed bucket
      // counts — integer-exact floats) feed the SAME bruteForceTopK the
      // neural-embedding path uses; docs 0..2 as queries. The oracle
      // rebuilds every vector and replays the ranking.
      val emb = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.hashedTfEmbedding(col("text"), 64).as("emb"))
      Similarity.bruteForceTopK(emb, "doc_id", "emb",
          emb.filter(col("doc_id") < 3), "doc_id", "emb", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }, {
      // hashed-TF embedding replay: the signed bucket-count vectors are
      // integer-exact, so the rebuilt DOUBLE lists equal the engine's floats
      // bit for bit; ranking replays via the same cosine + round(6) contract
      // as q_ann_brute_topk (sign bit 59 and bucket bits are disjoint)
      val dim = 64
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents),
         |e AS (
         |  SELECT doc_id, list_transform(ws, t ->
         |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs FROM w),
         |v AS (
         |  SELECT doc_id, list_transform(range($dim), d ->
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(hs, h -> CASE WHEN h % $dim = d
         |        THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
         |        ELSE CAST(0 AS BIGINT) END)),
         |      (a, b) -> a + b) AS DOUBLE)) AS vv
         |  FROM e),
         |q AS (SELECT doc_id qid, vv qv FROM v WHERE doc_id < 3),
         |s AS (
         |  SELECT qid query_id, v.doc_id corpus_id,
         |    CASE WHEN sqrt(list_dot_product(qv, qv)) *
         |              sqrt(list_dot_product(vv, vv)) > 0
         |      THEN list_dot_product(qv, vv) /
         |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv)))
         |      ELSE CAST(0.0 AS DOUBLE) END AS cosf
         |  FROM q, v),
         |r AS (SELECT query_id, corpus_id, cosf,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosf DESC, corpus_id) AS BIGINT) rank FROM s)
         |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    }),

    Query("q_rrf_indexed", (s, dir) => {
      // the FULLY-SERVED hybrid: sparse leg = inverted-text-index probe,
      // dense leg = the stored cell-partitioned IVF probe at nprobe=2
      // (REAL pruning) querying doc 0's embedding — neither leg scans the
      // corpus at query time; fusion over the shared 0-based row-id space
      val sparse = Bm25.topKIndexed(Bm25.openIndex(s, bm25IndexFor(s, dir)),
          RrfTerms, k = RrfPoolK)
        .select(col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.ivfTopKIndexed(
        Similarity.openIvfIndex(s, ivfIndexFor(s, dir)),
          emb.filter(col("vec_id") === 0), "vec_id", "embedding",
          k = RrfPoolK, nprobe = 2)
        .select(col("corpus_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(sparse, dense, "doc_id", RrfKConst, RrfN)
        .orderBy(col("rank"))
    },
      // fully-served hybrid replay: bm25 top-20 (the index probe equals the
      // scan) fused with the FULL IVF replay at nprobe=2 — assignment,
      // probe pruning, scoring, per-leg cuts, then the same fusion
      s"""WITH ${bm25ScCtes(RrfTerms)},
         |bt AS (
         |  SELECT doc_id, br FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS br FROM sc)
         |  WHERE br <= $RrfPoolK),
         |cent AS (
         |  SELECT CAST(vec_id AS INT) cent_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
         |  FROM embeddings WHERE vec_id < 8),
         |corp AS (SELECT vec_id cid,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
         |  FROM embeddings),
         |assign AS (
         |  SELECT cid, cent_id AS cell FROM (
         |    SELECT c.cid, ct.cent_id,
         |      row_number() OVER (PARTITION BY c.cid
         |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
         |    FROM corp c, cent ct) WHERE rn = 1),
         |q AS (SELECT vec_id qid,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
         |  FROM embeddings WHERE vec_id = 0),
         |probe AS (
         |  SELECT qid, cent_id AS cell FROM (
         |    SELECT q.qid, ct.cent_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
         |    FROM q, cent ct) WHERE rn <= 2),
         |dsc AS (
         |  SELECT c.cid doc_id, list_cosine_similarity(q.qv, c.v) cosf
         |  FROM q JOIN probe p ON q.qid = p.qid
         |    JOIN assign a ON a.cell = p.cell
         |    JOIN corp c ON c.cid = a.cid),
         |dt AS (
         |  SELECT doc_id, dr FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY cosf DESC, doc_id) AS BIGINT) AS dr FROM dsc)
         |  WHERE dr <= $RrfPoolK),
         |f AS (
         |  SELECT coalesce(bt.doc_id, dt.doc_id) AS doc_id,
         |    bt.br AS sparse_rank, dt.dr AS dense_rank,
         |    coalesce(CAST(1.0 AS DOUBLE) /
         |        (CAST($RrfKConst AS DOUBLE) + CAST(bt.br AS DOUBLE)),
         |      CAST(0.0 AS DOUBLE))
         |    + coalesce(CAST(1.0 AS DOUBLE) /
         |        (CAST($RrfKConst AS DOUBLE) + CAST(dt.dr AS DOUBLE)),
         |      CAST(0.0 AS DOUBLE)) AS fs
         |  FROM bt FULL OUTER JOIN dt ON bt.doc_id = dt.doc_id),
         |g AS (
         |  SELECT doc_id, CAST(round(fs * 1e12) AS BIGINT) AS rrf_u12,
         |    sparse_rank, dense_rank FROM f)
         |SELECT CAST(row_number() OVER (ORDER BY rrf_u12 DESC, doc_id)
         |    AS BIGINT) AS rank,
         |  doc_id, rrf_u12, sparse_rank, dense_rank
         |FROM g ORDER BY rrf_u12 DESC, doc_id LIMIT $RrfN""".stripMargin),

    Query("q_rrf", (s, dir) => {
      // hybrid retrieval (ext/Retrieval.scala, Cormack 2009 RRF): BM25
      // top-20 for the query terms fused with hashed-TF cosine top-20 for
      // the SAME query text by reciprocal-rank fusion — both legs and the
      // pico-quantized fusion replay in SQL
      val docs = t(s, dir, "documents")
      val sparse = Bm25.rank(docs, "doc_id", "text", RrfTerms, RrfPoolK)
      val emb = docs.select(col("doc_id"),
        TextAnalysis.hashedTfEmbedding(col("text"), 64).as("emb"))
      val qdf = s.range(1).select(col("id").as("qid"),
        TextAnalysis.hashedTfEmbedding(lit(RrfTerms.mkString(" ")), 64)
          .as("emb"))
      val dense = Similarity.bruteForceTopK(emb, "doc_id", "emb",
        qdf, "qid", "emb", k = RrfPoolK)
      Retrieval.rrfFuse(
          sparse.select(col("doc_id"), col("rank")),
          dense.select(col("corpus_id").as("doc_id"), col("rank")),
          "doc_id", RrfKConst, RrfN)
        .orderBy(col("rank"))
    },
      // RRF hybrid replay: both legs + the pico-quantized fusion
      rrfOracleSql("doc_id")),

    Query("q_rrf_graph", (s, dir) => {
      // hybrid retrieval THROUGH THE SPEC LAYER: content-addressed
      // Bm25RankOp (sparse leg) + AnnBruteTopKOp over hashed-TF embeddings
      // with an INLINE one-row query dataset (dense leg), fused by
      // RrfFuseOp — each leg rides the store independently, so re-running
      // the hybrid query with new fusion params reuses both ranked lists
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val text = SelectTextColumnOp(ds, "text")
      val sparse = Bm25RankOp(text, RrfTerms, RrfPoolK.toLong)
      val qds = LoadInlineJsonDatasetOp(Map(
        "qtext" -> Seq(RrfTerms.mkString(" "))))
      val dense = AnnBruteTopKOp(
        HashedTfEmbeddingOp(text),
        HashedTfEmbeddingOp(SelectTextColumnOp(qds, "qtext")),
        RrfPoolK.toLong)
      r.toFrame(RrfFuseOp(sparse, dense, "id", "corpus_id",
          RrfKConst.toLong, RrfN.toLong))
        .orderBy(col("rank"))
    },
      // spec twin: ids are file-order row indices == doc_id
      rrfOracleSql("doc_id AS id")),

    Query("q_phrase", (s, dir) => {
      // exact phrase search (TextAnalysis.phraseCount): contiguous-window
      // positional matching, pure map-side — one scan, zero shuffle at
      // any corpus size; occurrence counts per matching document
      val cnt = TextAnalysis.phraseCount(col("text"), PhraseTerms)
      t(s, dir, "documents")
        .select(col("doc_id"), cnt.as("n_hits"))
        .filter(col("n_hits") > 0L)
        .orderBy(col("doc_id"))
    },
      // phrase replay: the same contiguous-window count over the tokens
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents)
         |SELECT doc_id, n_hits FROM (
         |  SELECT doc_id, ${phraseCountSql(PhraseTerms)} AS n_hits FROM w)
         |WHERE n_hits > 0 ORDER BY doc_id""".stripMargin),

    Query("q_phrase_rank", (s, dir) => {
      // phrase-CONSTRAINED retrieval: BM25 over only the documents
      // containing the exact phrase (the "must-match quote + ranked terms"
      // search shape) — the phrase filter composes map-side ahead of the
      // one-pass ranking, statistics computed over the constrained corpus
      val docs = t(s, dir, "documents")
        .filter(TextAnalysis.phraseCount(col("text"), PhraseTerms) > 0L)
      Bm25.rank(docs, "doc_id", "text", RrfTerms, k = 10)
        .orderBy(col("rank"))
    },
      // phrase-constrained BM25: stats and ranking over the filtered corpus
      bm25OracleSql("doc_id",
      s"WHERE ${phraseCountSql(PhraseTerms)} > 0")),

    Query("q_phrase_indexed", (s, dir) => {
      // phrase search as an INDEX PROBE: the positional payload in the
      // stored postings answers the same contiguous-window query by
      // meeting the phrase terms' position lists per document — no corpus
      // scan, no re-tokenization; shares q_phrase's oracle verbatim
      Bm25.phraseCountIndexed(Bm25.openIndex(s, bm25IndexFor(s, dir)),
        PhraseTerms)
        .orderBy(col("doc_id"))
    },
      // the positional-index probe must equal the scan-based phrase count
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents)
         |SELECT doc_id, n_hits FROM (
         |  SELECT doc_id, ${phraseCountSql(PhraseTerms)} AS n_hits FROM w)
         |WHERE n_hits > 0 ORDER BY doc_id""".stripMargin),

    Query("q_phrase_multi", (s, dir) => {
      // BATCH phrase probe (Bm25.phraseCountManyIndexed): thousands of
      // contamination phrases priced as ONE read of the union of their
      // buckets — per phrase it must equal the scan-form count, which is
      // how the oracle replays it (one UNION ALL branch per phrase)
      Bm25.phraseCountManyIndexed(Bm25.openIndex(s, bm25IndexFor(s, dir)),
        MultiPhrases)
        .orderBy(col("phrase_id"), col("doc_id"))
    }, {
      // batch phrase probe: one UNION ALL branch per phrase, each replaying
      // the contiguous-window scan count — the absent-term phrase's branch
      // yields no rows by construction
      val branches = MultiPhrases.map { case (pid, p) =>
        s"""SELECT CAST($pid AS BIGINT) AS phrase_id, doc_id,
           |  ${phraseCountSql(p)} AS n_hits FROM w""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH w AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
         |    x -> length(x) > 0) AS ws FROM documents)
         |SELECT phrase_id, doc_id, n_hits FROM ($branches)
         |WHERE n_hits > 0 ORDER BY phrase_id, doc_id""".stripMargin
    }),

    Query("q_bm25_indexed", (s, dir) => {
      // stored INVERTED-INDEX probe (the 100 TB retrieval serving shape,
      // the text analog of q_ann_ivf_pruned): postings bucket-partitioned
      // by term hash, the probe reads ONLY the query terms' bucket
      // directories with the term equality pushed into the scan. k=10 is
      // far under the matched-doc count at every sf, so the result is
      // bit-identical to the q_bm25 corpus scan — the oracle IS q_bm25's.
      Bm25.topKIndexed(Bm25.openIndex(s, bm25IndexFor(s, dir)),
        RrfTerms, k = 10)
        .orderBy(col("rank"))
    },
      // the stored-index probe must equal the corpus scan bit for bit
      bm25OracleSql("doc_id")),

    Query("q_bm25_stream", (s, dir) => {
      // STREAMING INGEST of the inverted index: the corpus tail arrives
      // in 2 micro-batches appended into a fresh COPY of the head-built
      // index (one postings delta segment per batch + additive stats
      // LAST — probe-anytime consistency); the standing query against
      // the final index (the sink's last batch) shares q_bm25's oracle:
      // streamed build == batch corpus scan, bit for bit
      val idx = copyDir(bm25HeadIndexFor(s, dir))
      val tail = bm25TailFixtureFor(s, dir)
      val stream = s.readStream
        .schema(s.read.parquet(tail).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tail)
      val sink = runSink("bm25stream")((sink, ckpt) =>
        graft.streaming.Streaming.bm25IngestToSink(stream, idx, "doc_id",
          "text", RrfTerms, k = 10, sink, ckpt))
      readSink(s, sink, newestOnly = true)
        .orderBy(col("rank"))
    },
      // streamed ingest == batch build == corpus scan
      bm25OracleSql("doc_id")),

    Query("q_bm25_compact", (s, dir) => {
      // INDEX COMPACTION under the gate: head index + the tail appended
      // as two delta segments, then compactIndex folds everything into
      // one term-sorted base (orphan sweep, atomic stats cutover) — the
      // probe after compaction must STILL equal the q_bm25 corpus scan
      // bit for bit (shared oracle). This is the long-running-ingest
      // maintenance path: thousands of micro-batch segments fold back to
      // one-file-per-bucket min/max-skippable row groups.
      val idx = copyDir(bm25HeadIndexFor(s, dir))
      // one handle across append/append/compact/probe (round 21): a
      // handle per call re-reads the stats pointer per call — 4 extra
      // driver round-trips for identical results
      val h = Bm25.openIndex(s, idx)
      val tailDocs = s.read.parquet(bm25TailFixtureFor(s, dir))
      Bm25.appendToIndex(h, tailDocs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", tag = "even")
      Bm25.appendToIndex(h, tailDocs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", tag = "odd")
      Bm25.compactIndex(h)
      Bm25.topKIndexed(h, RrfTerms, k = 10, k1 = 1.2, b = 0.75)
        .orderBy(col("rank"))
    },
      // append → append → compact == corpus scan (compaction is pure layout)
      bm25OracleSql("doc_id")),

    Query("q_bm25_multi", (s, dir) => {
      // BATCH retrieval (ext.Bm25.rankMany): three term-list queries
      // priced as ONE corpus pass — union-terms stats row broadcast, one
      // tf UDF pass, per-query two-phase WindowGroupLimit top-k; the
      // oracle replays every query's own fold order and the per-query cut
      Bm25.rankMany(t(s, dir, "documents"), "doc_id", "text",
        MultiQueries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      // batch-BM25 replay: union stats row, per-query fold branches
      bm25MultiOracleSql(MultiQueries, 10, "doc_id")),

    Query("q_multi_graph", (s, dir) => {
      // batch retrieval THROUGH THE SPEC LAYER: Bm25RankManyOp
      // content-addresses a whole eval-suite's retrievals (query_id =
      // position in the nested term-list param — nested-seq serde)
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(Bm25RankManyOp(SelectTextColumnOp(ds, "text"),
          MultiQueries.map(_._2), k = 10L))
        .orderBy(col("query_id"), col("rank"))
    },
      // spec twin: ids are file-order row indices == doc_id
      bm25MultiOracleSql(MultiQueries, 10, "doc_id AS id")),

    Query("q_rrf_multi", (s, dir) => {
      // BATCH hybrid retrieval: rankMany sparse legs + multi-query
      // hashed-TF cosine dense legs (bruteForceTopK already batches
      // queries), fused per query by rrfFusePerQuery — every window
      // partitioned by query_id, nothing corpus-proportional past the
      // two scans
      val docs = t(s, dir, "documents")
      val sparse = Bm25.rankMany(docs, "doc_id", "text", MultiQueries,
          RrfPoolK)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val hemb = docs.select(col("doc_id"),
        TextAnalysis.hashedTfEmbedding(col("text"), 64).as("emb"))
      import s.implicits._
      val q = MultiQueries.map { case (qid, ts) => (qid, ts.mkString(" ")) }
        .toDF("query_id", "qtext")
        .select(col("query_id"),
          TextAnalysis.hashedTfEmbedding(col("qtext"), 64).as("emb"))
      val dense = Similarity.bruteForceTopK(hemb, "doc_id", "emb",
          q, "query_id", "emb", k = RrfPoolK)
        .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
      Retrieval.rrfFusePerQuery(sparse, dense, "query_id", "doc_id",
          RrfKConst, RrfN)
        .orderBy(col("query_id"), col("rank"))
    },
      // batch-RRF replay: per-query legs + per-query fusion windows
      rrfMultiOracleSql),

    Query("q_rrf_eval", (s, dir) => {
      // per-query retrieval-quality SWEEP over the hybrid ranking — the
      // shape a real relevance sweep runs: every eval query's BM25 +
      // dense legs fused per query (the q_rrf_multi pipeline), then
      // per-query MRR/nDCG@10 against that query's own relevance labels
      // (gain = tf of the query's head term — a deterministic stand-in
      // for judged qrels; production passes the judged set). All metric
      // arithmetic exact-integer (shared DcgWeightsU6 plan literals,
      // micro-unit floor division) and every step PARTITIONED by
      // query_id — nothing corpus-proportional past the two ranking
      // scans and the label join.
      val docs = t(s, dir, "documents")
      val sparse = Bm25.rankMany(docs, "doc_id", "text", MultiQueries,
          RrfPoolK)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val hemb = docs.select(col("doc_id"),
        TextAnalysis.hashedTfEmbedding(col("text"), 64).as("emb"))
      import s.implicits._
      val q = MultiQueries.map { case (qid, ts) => (qid, ts.mkString(" ")) }
        .toDF("query_id", "qtext")
        .select(col("query_id"),
          TextAnalysis.hashedTfEmbedding(col("qtext"), 64).as("emb"))
      val dense = Similarity.bruteForceTopK(hemb, "doc_id", "emb",
          q, "query_id", "emb", k = RrfPoolK)
        .select(col("query_id"), col("corpus_id").as("doc_id"), col("rank"))
      val fused = Retrieval.rrfFusePerQuery(sparse, dense, "query_id",
        "doc_id", RrfKConst, RrfN)
      val heads = MultiQueries.map { case (qid, ts) => (qid, ts.head) }
        .toDF("query_id", "__head")
      val gains = docs.crossJoin(broadcast(heads))
        .select(col("query_id"), col("doc_id"),
          size(filter(Corpus.words(col("text")), w => w === col("__head")))
            .cast("long").as("gain"))
      Retrieval.rankingMetricsPerQuery(fused, "query_id", "rank", "doc_id",
          gains, "query_id", "doc_id", "gain", k = 10)
        .orderBy(col("query_id"))
    },
      // per-query hybrid eval replay: fused ranking CTEs from q_rrf_multi,
      // head-term tf gains, grouped MRR/nDCG@10 with the shared integer
      // DCG literals — one metrics row per eval query
      rrfEvalOracleSql),

    Query("q_bm25", (s, dir) => {
      // BM25 ranked retrieval (ext.Bm25): one stats row broadcast, map-side
      // tf, fixed-term-order score fold quantized to micro-units; the
      // oracle replays statistics, arithmetic, and the top-k cut.
      Bm25.rank(t(s, dir, "documents"), "doc_id", "text",
        RrfTerms, k = 10)
        .orderBy(col("rank"))
    },
      // BM25 replay: same decimal literals combined with the same IEEE ops
      // (never pre-evaluated constants), fixed term order in the score fold,
      // ranking on the quantized integer.
      bm25OracleSql("doc_id")),

    Query("q_retrieval_eval", (s, dir) => {
      // retrieval EVALUATION — MRR and nDCG@10 of the BM25 ranking
      // against term-relevance labels (gain = tf of the query's head
      // term): the measurement that gates a ranking change before it
      // ships. DCG discount weights are PRECOMPUTED integer micro-units
      // (round(1e6/log2(rank+1)), [[DcgWeightsU6]]) shared as literals
      // with the oracle, so neither engine evaluates a transcendental at
      // query time and all metric arithmetic is exact integer. Bounded
      // everywhere: the retrieved leg by k, the ideal leg by a
      // corpus-wide top-10 (collected — 10 rows by construction). At
      // 100 TB this runs per query over a SAMPLE of queries; each costs
      // one BM25 probe plus one narrow top-10.
      val docs = t(s, dir, "documents")
      val topk = Bm25.rank(docs, "doc_id", "text", RrfTerms, k = 10)
      val gains = docs.select(col("doc_id"),
        size(filter(Corpus.words(col("text")), w => w === RrfTerms.head))
          .cast("long").as("gain"))
      Retrieval.rankingMetrics(topk, "rank", "doc_id",
        gains, "doc_id", "gain", k = 10)
    }, {
      // MRR + nDCG@10 replay: the q_bm25 scoring CTEs give the ranking,
      // gain = tf of the head term from the same tokenized `w` table, DCG
      // weights are the SAME integer literals the Spark plan embeds
      // (DcgWeightsU6), ideal = corpus-wide top-10 gains
      val wcases = DcgWeightsU6.zipWithIndex
        .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
      s"""WITH ${bm25ScCtes(RrfTerms)},
         |tk AS (SELECT doc_id, rank FROM (
         |    SELECT doc_id, CAST(row_number() OVER (
         |      ORDER BY score_u6 DESC, doc_id) AS BIGINT) AS rank FROM sc)
         |  WHERE rank <= 10),
         |g AS (SELECT doc_id,
         |    CAST(len(list_filter(ws, t -> t = '${RrfTerms.head}'))
         |      AS BIGINT) AS gain FROM w),
         |sc2 AS (SELECT tk.rank, g.gain,
         |    g.gain * (CASE tk.rank $wcases END) AS contrib_u6,
         |    CASE WHEN g.gain > 0 THEN tk.rank END AS rel_rank
         |  FROM tk JOIN g USING (doc_id)),
         |ideal AS (SELECT doc_id, gain, CAST(row_number() OVER (
         |    ORDER BY gain DESC, doc_id) AS BIGINT) AS rk FROM g),
         |idcg AS (SELECT CAST(SUM(gain * (CASE rk $wcases END)) AS BIGINT)
         |    AS idcg_u6 FROM ideal WHERE rk <= 10),
         |m AS (SELECT CAST(COALESCE(SUM(contrib_u6), 0) AS BIGINT) AS dcg_u6,
         |    MIN(rel_rank) AS first_rel,
         |    CAST(SUM(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_rel
         |  FROM sc2)
         |SELECT CAST(10 AS BIGINT) AS k, n_rel, dcg_u6, idcg_u6,
         |  CAST(CASE WHEN idcg_u6 > 0 THEN dcg_u6 * 1000000 // idcg_u6
         |       ELSE 0 END AS BIGINT) AS ndcg_u6,
         |  CAST(CASE WHEN first_rel IS NULL THEN 0
         |       ELSE 1000000 // first_rel END AS BIGINT) AS mrr_u6
         |FROM m CROSS JOIN idcg""".stripMargin
    }),

    Query("q_chunk", (s, dir) => {
      // RAG chunking: overlapping 32-word windows (stride 24) per doc —
      // the map-only prep step before embedding + ANN indexing; chunk
      // identity (doc_id, chunk_idx) is what attribution joins back on.
      // ONE tokenization per row (bindArray), windows as a higher-order
      // expression, the explode never shuffles.
      Corpus.chunkWords(t(s, dir, "documents"), "doc_id", "text",
          size = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
      """WITH w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS l FROM documents),
        |c AS (SELECT doc_id, l, len(l) AS n FROM w WHERE len(l) > 0),
        |x AS (SELECT doc_id, l, n,
        |        unnest(range(greatest((n - 8 + 24 - 1) // 24, 1))) AS i
        |      FROM c)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(l[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)], ' ')
        |    AS chunk_text,
        |  CAST(least(32, n - i*24) AS BIGINT) AS n_words
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin),

    Query("q_chunk_bm25", (s, dir) => {
      // chunk → retrieve → attribute: the RAG serving composition. The
      // q_chunk windows become the retrieval corpus (composite id
      // doc_id·10⁴ + chunk_idx), BM25 ranks PASSAGES with chunk-level
      // statistics, and each hit attributes back to (doc_id, chunk_idx)
      // — the join key chunking exists to provide.
      val chunks = Corpus.chunkWords(t(s, dir, "documents"), "doc_id",
          "text", size = 32, overlap = 8)
        .select((col("doc_id") * 10000L + col("chunk_idx")).as("chunk_id"),
          col("chunk_text"))
      Bm25.rank(chunks, "chunk_id", "chunk_text", RrfTerms, k = 10)
        .select(col("rank"),
          expr("chunk_id div 10000").as("doc_id"),
          (col("chunk_id") % 10000L).as("chunk_idx"),
          col("score_u6"))
        .orderBy(col("rank"))
    },
      // passage retrieval over the chunked corpus: the same BM25 replay
      // with the chunk windows as w0 and the composite id decomposed back
      s"""WITH ${bm25ScCtes(RrfTerms, w0Body = bm25ChunksW0)}
         |SELECT CAST(row_number() OVER (ORDER BY score_u6 DESC, doc_id)
         |    AS BIGINT) AS rank,
         |  doc_id // 10000 AS doc_id, doc_id % 10000 AS chunk_idx,
         |  score_u6
         |FROM sc ORDER BY score_u6 DESC, doc_id // 10000, chunk_idx
         |LIMIT 10""".stripMargin),

    Query("q_chunk_graph", (s, dir) => {
      // chunking as a CONTENT-ADDRESSED spec op over the runner's
      // positional identity — chunk once per (corpus, size, overlap),
      // (row_idx, chunk_idx) the attribution key
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(ChunkTextOp(SelectTextColumnOp(ds, "text"),
          size = 32L, overlap = 8L))
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("chunk_idx"),
          col("chunk_text"), col("n_words"))
        .orderBy(col("row_idx"), col("chunk_idx"))
    },
      // spec twin: same windows, keyed by positional identity
      """WITH d AS (SELECT text,
        |  CAST(row_number() OVER () AS BIGINT) - 1 AS row_idx
        |  FROM documents),
        |w AS (SELECT row_idx,
        |  list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS l FROM d),
        |c AS (SELECT row_idx, l, len(l) AS n FROM w WHERE len(l) > 0),
        |x AS (SELECT row_idx, l, n,
        |        unnest(range(greatest((n - 8 + 24 - 1) // 24, 1))) AS i
        |      FROM c)
        |SELECT row_idx, CAST(i AS BIGINT) AS chunk_idx,
        |  array_to_string(l[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)], ' ')
        |    AS chunk_text,
        |  CAST(least(32, n - i*24) AS BIGINT) AS n_words
        |FROM x ORDER BY row_idx, chunk_idx""".stripMargin),

    Query("q_chunk_maxp", (s, dir) => {
      // doc-level retrieval by MAX PASSAGE score (the BERT-maxP pattern:
      // a long doc is as relevant as its best passage): passage-level
      // BM25 over ALL chunks (k = corpus-wide cut high enough to keep
      // every scored passage per doc candidate), then per-doc max + a
      // deterministic re-rank. Chunk-level statistics, doc-level answer.
      val chunks = Corpus.chunkWords(t(s, dir, "documents"), "doc_id",
          "text", size = 32, overlap = 8)
        .select((col("doc_id") * 10000L + col("chunk_idx")).as("chunk_id"),
          col("chunk_text"))
      Bm25.rank(chunks, "chunk_id", "chunk_text", RrfTerms, k = 200)
        .select(expr("chunk_id div 10000").as("doc_id"), col("score_u6"))
        .groupBy(col("doc_id")).agg(max(col("score_u6")).as("best_u6"))
        .orderBy(col("best_u6").desc, col("doc_id"))
        .limit(10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("best_u6").desc, col("doc_id"))).cast("long"))
        .select(col("rank"), col("doc_id"), col("best_u6"))
    },
      // doc-level maxP: the passage pool's per-doc max, re-ranked — the
      // pool cut (top-200 passages, total order) replayed exactly
      s"""WITH ${bm25ScCtes(RrfTerms, w0Body = bm25ChunksW0)},
         |pool AS (SELECT doc_id, score_u6,
         |           row_number() OVER (ORDER BY score_u6 DESC, doc_id) AS rn
         |         FROM sc),
         |top AS (SELECT doc_id // 10000 AS doc_id,
         |          MAX(score_u6) AS best_u6
         |        FROM pool WHERE rn <= 200 GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY best_u6 DESC, doc_id)
         |    AS BIGINT) AS rank,
         |  doc_id, best_u6
         |FROM top ORDER BY best_u6 DESC, doc_id LIMIT 10""".stripMargin),

    Query("q_chunk_ann", (s, dir) => {
      // DENSE passage retrieval — the RAG-serving composition q_chunk_maxp
      // runs for BM25, on the ANN leg: chunk → hashed-TF embed → the
      // STORED cell-partitioned IVF probe (nprobe=2 < nlist=8: true
      // pruning, only probed cell directories are read) → per-query
      // passage pool (top-40) → doc-level maxP. Queries = the first chunk
      // of docs 10..12 (corpus members, so rank 1 is provably their own
      // doc at cosine 1). The oracle replays the whole chain: chunk
      // windows, embeddings, centroid assignment, probe, pool cut, max.
      val emb = chunkEmb(s, dir)
      val queries = emb.filter(
        col("chunk_id").isin(100000L, 110000L, 120000L))
      val hits = Similarity.ivfTopKIndexed(
        Similarity.openIvfIndex(s, chunkIvfIndexFor(s, dir)),
        queries, "chunk_id", "emb", k = 40, nprobe = 2)
      hits.select(col("query_id"),
          expr("corpus_id div 10000").as("doc_id"), col("cosine"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(max(col("cosine")).as("best_cos"))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("best_cos").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id"), col("best_cos"))
        .orderBy(col("query_id"), col("rank"))
    },
      // dense passage retrieval replay: chunk windows → hashed-TF vectors →
      // centroid assignment (first chunk of docs 0..7, cell = positional id,
      // cos = dot/sqrt(na·nb), ties → smaller cell) → top-2 probe → scoring
      // restricted to probed cells with the topK contract (rank on unrounded
      // cos, tie → smaller corpus id, output rounded) → top-40 pool →
      // per-doc max → top-5 docs. nprobe=2 < nlist=8 keeps true IVF
      // semantics in the check, exactly like q_ann_ivf_pruned.
      """WITH w AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS l FROM documents),
        |c AS (SELECT doc_id, l, len(l) AS n FROM w WHERE len(l) > 0),
        |x AS (SELECT doc_id, l, n,
        |        unnest(range(greatest((n - 8 + 24 - 1) // 24, 1))) AS i
        |      FROM c),
        |ch AS (SELECT doc_id * 10000 + i AS cid,
        |         l[CAST(i*24+1 AS INT):CAST(i*24+32 AS INT)] AS ws
        |       FROM x),
        |e AS (SELECT cid, list_transform(ws, t ->
        |        CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
        |      FROM ch),
        |v AS (SELECT cid, list_transform(range(64), d ->
        |        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(hs, h -> CASE WHEN h % 64 = d
        |            THEN CAST(1 AS BIGINT) - ((h >> 59) & 1) * 2
        |            ELSE CAST(0 AS BIGINT) END)),
        |          (a, b) -> a + b) AS DOUBLE)) AS vv
        |      FROM e),
        |vn AS (SELECT cid, vv, list_dot_product(vv, vv) AS n2 FROM v),
        |cent AS (SELECT CAST(cid // 10000 AS INT) AS cent_id, vv AS cv,
        |           n2 AS cn2
        |         FROM vn WHERE cid % 10000 = 0 AND cid < 80000),
        |assign AS (SELECT cid, cell FROM (
        |    SELECT vn.cid, ct.cent_id AS cell,
        |      row_number() OVER (PARTITION BY vn.cid ORDER BY
        |        CASE WHEN vn.n2 * ct.cn2 > 0
        |          THEN list_dot_product(vn.vv, ct.cv) / sqrt(vn.n2 * ct.cn2)
        |          ELSE 0.0 END DESC, ct.cent_id) AS rn
        |    FROM vn, cent ct) WHERE rn = 1),
        |q AS (SELECT cid AS qid, vv AS qv, n2 AS qn2 FROM vn
        |      WHERE cid IN (100000, 110000, 120000)),
        |probe AS (SELECT qid, cell FROM (
        |    SELECT q.qid, ct.cent_id AS cell,
        |      row_number() OVER (PARTITION BY q.qid ORDER BY
        |        CASE WHEN q.qn2 * ct.cn2 > 0
        |          THEN list_dot_product(q.qv, ct.cv) / sqrt(q.qn2 * ct.cn2)
        |          ELSE 0.0 END DESC, ct.cent_id) AS rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |s AS (SELECT q.qid AS query_id, vn.cid AS corpus_id,
        |        CASE WHEN sqrt(q.qn2) * sqrt(vn.n2) > 0
        |          THEN list_dot_product(q.qv, vn.vv)
        |               / (sqrt(q.qn2) * sqrt(vn.n2))
        |          ELSE 0.0 END AS cosf
        |      FROM q JOIN probe p ON q.qid = p.qid
        |        JOIN assign a ON a.cell = p.cell
        |        JOIN vn ON vn.cid = a.cid),
        |pool AS (SELECT query_id, corpus_id // 10000 AS doc_id,
        |           round(cosf, 6) AS cosine,
        |           row_number() OVER (PARTITION BY query_id
        |             ORDER BY cosf DESC, corpus_id) AS rn
        |         FROM s),
        |m AS (SELECT query_id, doc_id, max(cosine) AS best_cos
        |      FROM pool WHERE rn <= 40 GROUP BY 1, 2)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY best_cos DESC, doc_id) AS BIGINT) AS rank,
        |  doc_id, best_cos
        |FROM m QUALIFY rank <= 5 ORDER BY query_id, rank""".stripMargin)
  )
}
