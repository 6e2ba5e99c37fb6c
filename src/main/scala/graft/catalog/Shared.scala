package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{LangModel, Similarity}
import graft.ops.StoredParquet

/** Builders, fixtures and oracle fragments used by more than one query
  * family. Anything used by a single family lives in that family's file. */
object Shared {

  /** The path of an on-disk fixture or index, written once per (JVM,
    * fixture name, key) by `make(key)`. The key is the sf dir the fixture
    * derives from (for the q_tf_bpe weights, the tokenizer trained on it). */
  private[catalog] def fixture(name: String, key: String)(
      make: String => String): String =
    fixtures.synchronized(fixtures.getOrElseUpdate((name, key), make(key)))

  private val fixtures =
    scala.collection.mutable.HashMap.empty[(String, String), String]

  private[catalog] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** On-disk IVF index over `embeddings`, built once per (JVM, sf dir):
    * centroids = corpus members vec_id 0..7 (deterministic AND replayable
    * by the SQL oracle), corpus parquet partitioned by cell id. */
  private[catalog] def ivfIndexFor(s: SparkSession, dir: String): String =
    fixture("ivf-index", dir) { d =>
      val path = java.nio.file.Files.createTempDirectory("graft-ivf-index-").toString
      val emb = t(s, d, "embeddings")
      Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        Similarity.centroidsByIds(emb, "vec_id", "embedding", 0L until 8L), path)
      path
    }

  /** Recursive file copy of a (small, fixture-scale) directory tree into a
    * fresh temp dir — hands a mutating consumer (the streaming ingest
    * twin) its own disposable copy of a cached immutable index. */
  private[catalog] def copyDir(src: String): String = {
    import java.nio.file.{Files, Path, Paths}
    val from = Paths.get(src)
    val to = Files.createTempDirectory("graft-idx-copy-")
    val walk = Files.walk(from)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator.asScala.foreach { p: Path =>
        val dst = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
    to.toString
  }

  /** A file stream that delivers `batches` as consecutive micro-batches:
    * each is written as one parquet file under `b<i>` of a fresh temp dir,
    * and every batch but the last is back-dated (b0 oldest), so
    * `Trigger.AvailableNow` with `maxFilesPerTrigger=1`, which takes files
    * in modification-time order, delivers them in order without sleeping. */
  private[catalog] def batchFileStream(s: SparkSession, tag: String,
                                       batches: DataFrame*): DataFrame = {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory(s"graft-$tag-src-")
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(s"$src/b$i")
    }
    batches.indices.init.foreach { i =>
      val files = Files.walk(Paths.get(s"$src/b$i"))
      try files.forEach(p => Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + i * 100000000000L)))
      finally files.close()
    }
    s.readStream
      .schema(s.read.parquet(s"$src/b0").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(batches.indices.map(i => s"b$i")
        .mkString(s"$src/{", ",", "}/*.parquet"))
  }

  /** Runs a `*ToSink` operator as `run(sink, checkpoint)` into a fresh
    * temp sink and checkpoint dir, and returns the sink root. */
  private[catalog] def runSink(tag: String)(run: (String, String) => Unit): String = {
    val sink = java.nio.file.Files
      .createTempDirectory(s"graft-$tag-out-").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft-$tag-ck-").toString
    run(sink, ckpt)
    sink
  }

  /** Reads a sink table back: every batch's rows without the `batch_id`
    * partition column, or with `newestOnly` only the newest `batch_id=B`
    * directory (a running state or card, or the last batch's verdicts).
    * The sink wrote every file, so the schema comes from its footers
    * ([[graft.ops.StoredParquet]]), with no inference job. */
  private[catalog] def readSink(s: SparkSession, dir: String,
                                newestOnly: Boolean = false): DataFrame =
    if (!newestOnly) StoredParquet.read(s, dir).drop("batch_id")
    else {
      val newest = new java.io.File(dir).list()
        .filter(_.startsWith("batch_id="))
        .maxBy(_.stripPrefix("batch_id=").toLong)
      StoredParquet.read(s, s"$dir/$newest")
    }

  /** Hybrid-retrieval gate constants (shared engine/oracle): the query
    * terms double as the BM25 term list and the dense query text; each leg
    * contributes its top-`RrfPoolK`, fused at `rrfK = RrfKConst` into the
    * top-`RrfN`. */
  private[catalog] val RrfTerms: Seq[String] = Seq("spark", "merge", "window")

  private[catalog] val RrfPoolK: Int = 20
  private[catalog] val RrfKConst: Int = 60
  private[catalog] val RrfN: Int = 10

  /** q_bpe_train / q_bpe_encode merge-round count (shared engine/oracle).
    * Each extra round adds one unrolled CTE block to the oracle; 6 is deep
    * enough that later rounds merge PAIRS OF MERGED SYMBOLS (not just
    * chars), exercising the loop's fixpoint semantics end-to-end. */
  private[catalog] val BpeMerges: Int = 6

  /** Unrolled DuckDB replay of the [[graft.ext.Bpe.train]] merge loop:
    * round k = pair counts over the unique-word symbol table (`p{k}`),
    * total-order argmax (`b{k}`), and a RECURSIVE leftmost-replacement
    * CTE (`m{k}`) applying the merge until fixpoint. Leftmost-until-
    * fixpoint equals [[graft.ext.Bpe.mergeOnce]]'s greedy left-to-right
    * single pass: a merged token `a+b` can never create a NEW `(a, b)`
    * adjacency (that would need `a+b == a` or `a+b == b`, impossible for
    * non-empty symbols), so replacement order cannot change the result.
    * Segmentations ride as chr(31)-delimited strings (boundary-shared:
    * `<US>a<US>b<US>` consumes and restores the shared
    * delimiter). Every CTE is MATERIALIZED — DuckDB inlines plain CTEs
    * per reference, and each round references its predecessor twice
    * (pair counts + merge), which re-derives the whole prefix chain
    * exponentially in rounds without it. */
  private[catalog] def bpeOracleCtes(numMerges: Int): String = {
    val S = "chr(31)"
    def pat(k: Int) = s"(SELECT $S||sym_a||$S||sym_b||$S FROM b$k)"
    def rep(k: Int) = s"(SELECT $S||sym_a||sym_b||$S FROM b$k)"
    val sb = new StringBuilder
    sb.append(
      s"""w0 AS MATERIALIZED (
         |  SELECT $S || regexp_replace(word, '(.)', '\\1' || $S, 'g') AS seg,
         |         COUNT(*) AS cnt
         |  FROM (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |               x -> length(x) > 0)) AS word FROM documents)
         |  GROUP BY 1)""".stripMargin)
    for (k <- 0 until numMerges) {
      sb.append(s""",
        |p$k AS MATERIALIZED (
        |  SELECT l[CAST(i+1 AS INT)] AS sym_a, l[CAST(i+2 AS INT)] AS sym_b,
        |         SUM(cnt) AS cnt
        |  FROM (SELECT list_filter(string_split(seg, $S), x -> length(x) > 0) AS l,
        |               cnt FROM w$k),
        |       LATERAL (SELECT unnest(range(len(l)-1)) AS i) u
        |  GROUP BY 1, 2),
        |b$k AS MATERIALIZED (
        |  SELECT sym_a, sym_b FROM p$k ORDER BY cnt DESC, sym_a, sym_b LIMIT 1),
        |m$k AS MATERIALIZED (
        |  SELECT seg, cnt, strpos(seg, ${pat(k)}) AS pos FROM w$k
        |  UNION ALL
        |  SELECT substr(seg, 1, pos-1) || ${rep(k)} ||
        |         substr(seg, pos + length(${pat(k)})) AS seg, cnt,
        |         strpos(substr(seg, 1, pos-1) || ${rep(k)} ||
        |                substr(seg, pos + length(${pat(k)})), ${pat(k)}) AS pos
        |  FROM m$k WHERE pos > 0),
        |w${k + 1} AS MATERIALIZED (SELECT seg, cnt FROM m$k WHERE pos = 0)""".stripMargin)
    }
    "WITH RECURSIVE\n" + sb.toString
  }

  /** q_token_budget per-language token allowance (shared engine/oracle):
    * cuts every language of the sf fixtures (en carries ~12k tokens at
    * sf0.01), so the gate exercises a real budget boundary per group. */
  private[catalog] val TbBudget: Long = 2000L

  /** Shared CTEs of the multiclass nearest-centroid oracles over the
    * embeddings table: quantized per-(row, dim) inputs `q`, per-(class,
    * dim) centroids `m` (fit rows = `fitWhere`, e.g. "WHERE vec_id % 2 =
    * 0"), exact per-(row, class) scores `s`, ranked predictions `p` (rn=1
    * = argmax; ORDER BY score DESC, lab = the engine's first-max over the
    * sorted label array). Every score is integer arithmetic below 2⁵³
    * followed by one division — bit-identical to
    * [[graft.ml.QuantizedCentroidModel]]. */
  private[catalog] def mcEmbedSqlCtes(fitWhere: String): String =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(label AS VARCHAR) AS lab, embedding,
       |         unnest(range(len(embedding))) AS dim
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id, lab, dim,
       |  CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1e6) AS BIGINT) AS qx
       |  FROM e),
       |m AS (
       |  SELECT lab, dim,
       |    CAST(round(CAST(SUM(qx) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qm
       |  FROM q $fitWhere GROUP BY lab, dim),
       |s AS (
       |  SELECT q.vec_id, m.lab,
       |    (CAST(SUM(q.qx * m.qm) AS DOUBLE)
       |      - CAST(SUM(m.qm * m.qm) AS DOUBLE) / 2.0) / 1e12 AS score
       |  FROM q JOIN m ON q.dim = m.dim
       |  GROUP BY q.vec_id, m.lab),
       |p AS (
       |  SELECT vec_id, lab AS pred_label, score,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, lab) AS rn
       |  FROM s)""".stripMargin

  /** Full SemDeDup replay (q_dedup_semantic AND its streaming twin
    * q_sem_stream — identical verdicts over the identical planted fixture):
    * centroids = vec_id 0..7 (cell id = position), every row (originals +
    * the 50 planted copies) assigned to its max-cosine centroid (ties →
    * smaller cell), duplicates = rows with a smaller-id same-cell neighbor
    * at cosine >= 0.8. */
  private[catalog] val semDedupOracleSql: String =
    """WITH u AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 50),
      |cent AS (
      |  SELECT CAST(vec_id AS INT) cent_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
      |  FROM embeddings WHERE vec_id < 8),
      |corp AS (SELECT vec_id cid,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
      |assign AS (
      |  SELECT cid, cent_id AS cell, v FROM (
      |    SELECT c.cid, ct.cent_id, c.v,
      |      row_number() OVER (PARTITION BY c.cid
      |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
      |    FROM corp c, cent ct) WHERE rn = 1),
      |dup AS (
      |  SELECT DISTINCT b.cid AS dup_id
      |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.cid < b.cid
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.8)
      |SELECT a.cid AS vec_id, a.cell, (d.dup_id IS NULL) AS keep
      |FROM assign a LEFT JOIN dup d ON a.cid = d.dup_id
      |ORDER BY vec_id""".stripMargin

  /** One query's BM25 score fold as SQL — same decimal literals, same
    * IEEE op order as [[graft.ext.Bm25]]'s `termContribution` fold;
    * `dfIdx` maps each term to its df column index in the stats row. */
  private[catalog] def bm25ContribSql(terms: Seq[String],
                                      dfIdx: String => Int): String =
    terms.map { t =>
      val tf = s"CAST(len(list_filter(ws, x -> x = '$t')) AS DOUBLE)"
      val df = s"CAST(df${dfIdx(t)} AS DOUBLE)"
      val n = "CAST(n_docs AS DOUBLE)"
      val dl = "CAST(len(ws) AS DOUBLE)"
      val avgdl = s"(CAST(total_dl AS DOUBLE) / $n)"
      val idf = s"ln((($n - $df + CAST(0.5 AS DOUBLE)) / " +
        s"($df + CAST(0.5 AS DOUBLE))) + CAST(1.0 AS DOUBLE))"
      s"(($idf * ($tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))) / " +
        s"($tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - " +
        s"CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * ($dl / $avgdl))))"
    }.reduceLeft((a, c) => s"($a + $c)")

  /** Tokenized docs `w(doc_id, ws)` (optionally filtered by `wFilter`, a
    * `WHERE …` clause over `ws` — the phrase-constrained corpus) + ONE
    * exact stats row `st` with a df column per term — shared by every
    * BM25-family oracle. */
  private[catalog] def bm25StatsCtes(allTerms: Seq[String],
                                     wFilter: String = "",
                                     w0Body: String = bm25DocsW0): String = {
    val dfs = allTerms.indices.map(i =>
      s"CAST(sum(CASE WHEN list_contains(ws, '${allTerms(i)}') THEN 1 " +
        s"ELSE 0 END) AS BIGINT) AS df$i").mkString(",\n    ")
    s"""w0 AS ($w0Body),
       |w AS (SELECT doc_id, ws FROM w0 $wFilter),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(ws)) AS BIGINT) AS total_dl,
       |    $dfs
       |  FROM w)""".stripMargin
  }

  /** The default BM25 corpus: whole documents, tokenized once. */
  private[catalog] val bm25DocsW0: String =
    """
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\f\r]+'),
      |    x -> length(x) > 0) AS ws FROM documents""".stripMargin

  /** CTE body (w → st → sc) shared by the BM25 oracles and the RRF hybrid
    * oracle: per-doc micro-quantized scores `sc(doc_id, score_u6)`. */
  private[catalog] def bm25ScCtes(terms: Seq[String],
                                  wFilter: String = "",
                                  w0Body: String = bm25DocsW0): String = {
    val allTerms = terms.distinct
    val posOf = allTerms.zipWithIndex.toMap
    s"""${bm25StatsCtes(allTerms, wFilter, w0Body)},
       |sc AS (
       |  SELECT doc_id,
       |    CAST(round(${bm25ContribSql(terms, posOf)} * CAST(1e6 AS DOUBLE)) AS BIGINT) AS score_u6
       |  FROM w CROSS JOIN st)""".stripMargin
  }

  /** Shared CTE prefix of the LM-perplexity oracles (q_lm_perplexity and
    * its spec-layer twin q_lm_graph): bigram stupid-backoff fit on the even
    * doc_ids, per-token micro-nat quantization, ending with
    * `d` = (doc_id, n_tokens, logp_u6). Constants imported from
    * [[graft.ext.LangModel]] so they cannot drift. */
  private[catalog] def lmPerplexitySqlCtes: String =
    lmPerplexitySqlCtesWith("SELECT * FROM p WHERE doc_id % 2 = 0")

  /** Same CTEs with a caller-chosen fit-row selection (must project p.*). */
  private[catalog] def lmPerplexitySqlCtesWith(fitpSql: String): String = {
    val bos = LangModel.Bos
    s"""WITH w AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+'),
       |    x -> length(x) > 0) AS ws FROM documents),
       |p AS (
       |  SELECT doc_id, i AS pos,
       |    CASE WHEN i = 0 THEN '$bos' ELSE ws[i] END AS prev,
       |    ws[i + 1] AS cur
       |  FROM (SELECT doc_id, ws, unnest(range(0, len(ws))) AS i FROM w)),
       |fitp AS ($fitpSql),
       |uni AS (SELECT cur AS w2, count(*) AS cu FROM fitp GROUP BY 1
       |        UNION ALL
       |        SELECT '$bos', count(*) FROM fitp WHERE prev = '$bos'),
       |bi AS (SELECT prev AS v, cur AS w2, count(*) AS cb
       |       FROM fitp GROUP BY 1, 2),
       |tot AS (SELECT count(*) AS total_tokens FROM fitp),
       |sc AS (
       |  SELECT p.doc_id,
       |    CAST(round(CASE
       |      WHEN bi.cb IS NOT NULL AND uv.cu IS NOT NULL
       |        THEN ln(CAST(bi.cb AS DOUBLE) / CAST(uv.cu AS DOUBLE))
       |      ELSE ln(CAST(${LangModel.Backoff} AS DOUBLE) *
       |        (CAST(coalesce(uw.cu, 1) AS DOUBLE) /
       |         CAST(tot.total_tokens AS DOUBLE)))
       |      END * CAST(${LangModel.Quant} AS DOUBLE)) AS BIGINT) AS qlp
       |  FROM p
       |  LEFT JOIN bi ON bi.v = p.prev AND bi.w2 = p.cur
       |  LEFT JOIN uni uv ON uv.w2 = p.prev
       |  LEFT JOIN uni uw ON uw.w2 = p.cur
       |  CROSS JOIN tot),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |        CAST(sum(qlp) AS BIGINT) AS logp_u6 FROM sc GROUP BY 1)
       |""".stripMargin
  }

  /** The ppl projection shared by both LM oracles. */
  private[catalog] def lmPplExprSql: String =
    s"""CASE WHEN d.n_tokens IS NOT NULL THEN
       |    round(exp(-(CAST(d.logp_u6 AS DOUBLE) /
       |        CAST(${LangModel.Quant} AS DOUBLE)) /
       |      CAST(d.n_tokens AS DOUBLE)), 6)
       |  END""".stripMargin
}
