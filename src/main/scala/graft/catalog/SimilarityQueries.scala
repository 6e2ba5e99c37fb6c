package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Similarity
import graft.catalog.Shared._

/** Similarity search: brute-force, IVF and IVF-PQ top-k, recall and hard
  * negatives, and the streaming ANN twins. */
object SimilarityQueries {

  /** q_pq_stream oracle: the q_ann_ivfpq replay per BATCH PREFIX — shared
    * CTEs for the head-built codebooks/centroids and the per-row code
    * argmin + cell assignment (both are row-local and
    * batch-independent), then per batch the probe/ADC chain restricted
    * to exactly the corpus prefix that batch saw (`cid < lo`). */
  private def pqStreamOracleSql: String = {
    val batches = Seq((0, 20, 30), (1, 30, 40))
    val legs = batches.map { case (b, lo, hi) =>
      s"""q$b AS (SELECT cid qid, v qv,
         |    sqrt(list_sum(list_transform(v, x -> x*x))) qn
         |  FROM corp WHERE cid >= $lo AND cid < $hi),
         |probe$b AS (SELECT qid, cent_id AS cell FROM (
         |    SELECT q.qid, ct.cent_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC,
         |          ct.cent_id) rn
         |    FROM q$b q, cent ct) WHERE rn <= 2),
         |elig$b AS (SELECT p.qid, a.cid FROM probe$b p
         |  JOIN assign a USING (cell) WHERE a.cid < $lo),
         |contrib$b AS (SELECT e.qid, e.cid,
         |    list_dot_product(q.qv[cd.sub*8+1 : cd.sub*8+8], w.wv) num_s,
         |    w.w2 r2_s
         |  FROM elig$b e JOIN q$b q ON q.qid = e.qid
         |    JOIN codes cd ON cd.cid = e.cid
         |    JOIN cwn w ON w.sub = cd.sub AND w.j = cd.j),
         |sc$b AS (SELECT qid, cid, sum(num_s) num, sum(r2_s) r2
         |  FROM contrib$b GROUP BY 1, 2),
         |scored$b AS (SELECT sc.qid query_id, sc.cid corpus_id,
         |    CASE WHEN q.qn * sqrt(sc.r2) > 0
         |      THEN sc.num / (q.qn * sqrt(sc.r2)) ELSE 0.0 END s
         |  FROM sc$b sc JOIN q$b q ON q.qid = sc.qid),
         |r$b AS (SELECT query_id, corpus_id, s,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY s DESC, corpus_id) AS BIGINT) rank
         |  FROM scored$b)""".stripMargin
    }
    val selects = batches.map { case (b, _, _) =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, query_id, corpus_id,
         |  round(s, 6) AS score, rank FROM r$b WHERE rank <= 5""".stripMargin
    }
    s"""WITH corp AS (SELECT vec_id cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
       |  FROM embeddings WHERE vec_id < 40),
       |cent AS (SELECT CAST(cid AS INT) cent_id, v cv FROM corp WHERE cid < 8),
       |subs AS (SELECT CAST(unnest(range(8)) AS INT) sub),
       |cw AS (SELECT s.sub, CAST(c.cid AS INT) j,
       |    c.v[s.sub*8+1 : s.sub*8+8] wv
       |  FROM corp c, subs s WHERE c.cid < 16),
       |cwn AS (SELECT sub, j, wv,
       |    list_sum(list_transform(wv, x -> x*x)) w2 FROM cw),
       |dist AS (SELECT c.cid, w.sub, w.j,
       |    list_sum(list_transform(range(1, 9),
       |      i -> (c.v[w.sub*8+i] - w.wv[i]) * (c.v[w.sub*8+i] - w.wv[i]))) d
       |  FROM corp c, cwn w),
       |codes AS (SELECT cid, sub, j FROM (
       |    SELECT cid, sub, j,
       |      row_number() OVER (PARTITION BY cid, sub ORDER BY d, j) rn
       |    FROM dist) WHERE rn = 1),
       |assign AS (SELECT cid, cent_id AS cell FROM (
       |    SELECT c.cid, ct.cent_id,
       |      row_number() OVER (PARTITION BY c.cid
       |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC,
       |          ct.cent_id) rn
       |    FROM corp c, cent ct) WHERE rn = 1),
       |${legs.mkString(",\n")}
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY batch_id, query_id, rank""".stripMargin
  }

  val queries: Seq[Query] = Seq(

    Query("q_ann_brute_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH q AS (SELECT vec_id qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
        |  FROM embeddings WHERE vec_id < 3),
        |c AS (SELECT vec_id cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
        |  FROM embeddings),
        |s AS (SELECT qid query_id, cid corpus_id, list_cosine_similarity(qv, cv) cosf FROM q, c),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM s)
        |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q_hard_negatives", (s, dir) => {
      // contrastive-pair mining: corpus = embeddings + planted COPIES of
      // vec_id < 50 (cosine 1 with their sources); per query the top-5
      // similar-but-NOT-duplicate neighbors — each query's own planted
      // copy is excluded by the 0.95 duplicate threshold, so the mined
      // negatives are hard, never false
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val corpus = emb.union(emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.hardNegatives(corpus, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, dupThreshold = 0.95)
        .orderBy(col("query_id"), col("rank"))
    },
      // contrastive mining: same cosine replay, duplicates filtered out
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 50),
        |q AS (SELECT vec_id qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
        |  FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
        |  FROM u),
        |s AS (SELECT qid query_id, cid corpus_id,
        |        list_cosine_similarity(qv, cv) cosf FROM q, c),
        |f AS (SELECT * FROM s WHERE cosf < 0.95 AND query_id != corpus_id),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM f)
        |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q_ann_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
      Similarity.ivfTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      """WITH q AS (SELECT vec_id qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
        |  FROM embeddings WHERE vec_id < 3),
        |c AS (SELECT vec_id cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
        |  FROM embeddings),
        |s AS (SELECT qid query_id, cid corpus_id, list_cosine_similarity(qv, cv) cosf FROM q, c),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM s)
        |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q_ann_ivf_pruned", (s, dir) => {
      // stored-bucketed IVF (the 100 TB scan-reduction): the corpus is
      // WRITTEN partitioned by cell id once per (JVM, sf dir), and the
      // probe's literal cell set prunes unprobed cell directories at the
      // source (ExtSpec asserts partitionCount == |probed cells| < nlist).
      // Centroids are explicit corpus members (vec_id 0..7), so the DuckDB
      // oracle replays the ENTIRE pipeline — assignment, probe, scoring —
      // from the base table; nprobe=2 < nlist=8 means this oracle checks
      // true IVF semantics, not brute force.
      Similarity.ivfTopKIndexed(s, ivfIndexFor(s, dir),
          t(s, dir, "embeddings").filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 5, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    },
      // full IVF replay: centroids = vec_id 0..7 (cell id = vec_id), each
      // corpus vector assigned to its max-cosine centroid (ties -> smaller
      // cell), each query probes its top-2 cells, scoring restricted to
      // probed cells — the same semantics the Spark side executes over the
      // cell-partitioned store.
      """WITH cent AS (
        |  SELECT CAST(vec_id AS INT) cent_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
        |  FROM embeddings WHERE vec_id < 8),
        |corp AS (SELECT vec_id cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |assign AS (
        |  SELECT cid, cent_id AS cell FROM (
        |    SELECT c.cid, ct.cent_id,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
        |    FROM corp c, cent ct) WHERE rn = 1),
        |q AS (SELECT vec_id qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
        |  FROM embeddings WHERE vec_id < 3),
        |probe AS (
        |  SELECT qid, cent_id AS cell FROM (
        |    SELECT q.qid, ct.cent_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |s AS (
        |  SELECT q.qid query_id, c.cid corpus_id,
        |    list_cosine_similarity(q.qv, c.v) cosf
        |  FROM q JOIN probe p ON q.qid = p.qid
        |    JOIN assign a ON a.cell = p.cell
        |    JOIN corp c ON c.cid = a.cid),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM s)
        |SELECT query_id, corpus_id, round(cosf, 6) AS cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q_ann_recall", (s, dir) => {
      // index-quality EVALUATION — the measurement that sets the
      // nprobe/recall trade before a config ships: recall@5 of the stored
      // pruned IVF probe (nprobe=2 < nlist=8) against the exact
      // brute-force ranking, per query. Integer output (hits of 5,
      // recall in micro-units) keeps the gate hash exact. At 100 TB this
      // runs on a SAMPLE of queries: both legs are bounded by the query
      // batch, the brute leg by design (it exists to calibrate the
      // approximate one).
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("corpus_id"))
      val approx = Similarity.ivfTopKIndexed(s, ivfIndexFor(s, dir),
          queries, "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("corpus_id"))
      exact.join(approx.withColumn("__hit", lit(1L)),
          Seq("query_id", "corpus_id"), "left")
        .groupBy(col("query_id"))
        .agg(coalesce(sum(col("__hit")), lit(0L)).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (col("n_hits") * 200000L).as("recall_u6")) // = hits/5 in µ-units
        .orderBy(col("query_id"))
    },
      // recall@5 eval replay: the exact brute top-5 and the nprobe=2 pruned
      // IVF top-5 (both from their gated oracles' CTEs), left-joined per
      // (query, neighbor) — n_hits counts the overlap
      """WITH q AS (SELECT vec_id qid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
        |  FROM embeddings WHERE vec_id < 10),
        |corp AS (SELECT vec_id cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |ex AS (SELECT qid AS query_id, cid AS corpus_id FROM (
        |    SELECT q.qid, c.cid,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.cid) rn
        |    FROM q, corp c) WHERE rn <= 5),
        |cent AS (SELECT CAST(vec_id AS INT) cent_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
        |  FROM embeddings WHERE vec_id < 8),
        |assign AS (SELECT cid, cent_id AS cell FROM (
        |    SELECT c.cid, ct.cent_id,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
        |    FROM corp c, cent ct) WHERE rn = 1),
        |probe AS (SELECT qid, cent_id AS cell FROM (
        |    SELECT q.qid, ct.cent_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |ap AS (SELECT query_id, corpus_id FROM (
        |    SELECT q.qid AS query_id, c.cid AS corpus_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.cid) rn
        |    FROM q JOIN probe p ON q.qid = p.qid
        |      JOIN assign a ON a.cell = p.cell
        |      JOIN corp c ON c.cid = a.cid) WHERE rn <= 5),
        |hits AS (SELECT e.query_id,
        |    CAST(count(a.corpus_id) AS BIGINT) AS n_hits
        |  FROM ex e LEFT JOIN ap a
        |    ON e.query_id = a.query_id AND e.corpus_id = a.corpus_id
        |  GROUP BY 1)
        |SELECT query_id, n_hits, n_hits * 200000 AS recall_u6
        |FROM hits ORDER BY query_id""".stripMargin),

    Query("q_ann_stream", (s, dir) => {
      // STREAMING ANN ingest (the third stored index on the
      // probe-then-append discipline): two embedding micro-batches
      // retrieve their top-5 neighbors from the ACCUMULATED store —
      // batch 1 can retrieve batch 0's vectors — then append themselves
      // as tagged segments, with per-batch auto-compaction folding the
      // store to one generation under the gate. The oracle replays each
      // batch's full IVF pipeline (assign, probe, score, cut) against
      // exactly the corpus prefix that batch saw.
      val emb = t(s, dir, "embeddings")
      val idx = java.nio.file.Files
        .createTempDirectory("graft-annstream-idx-").toString
      val head = emb.filter(col("vec_id") < 20)
      Similarity.buildIvfIndex(head, "vec_id", "embedding",
        Similarity.centroidsByIds(head, "vec_id", "embedding", 0L until 8L),
        idx)
      val stream = batchFileStream(s, "annstream",
        emb.filter(col("vec_id") >= 20 && col("vec_id") < 30),
        emb.filter(col("vec_id") >= 30 && col("vec_id") < 40))
      val sink = runSink("annstream")((sink, ckpt) =>
        graft.streaming.Streaming.ivfIngestToSink(stream, idx, "vec_id",
          "embedding", k = 5, nprobe = 2, sink, ckpt, autoCompactAt = 1))
      s.read.parquet(sink)
        .select(col("batch_id").cast("long").as("batch_id"),
          col("query_id"), col("corpus_id"), col("cosine"), col("rank"))
        .orderBy(col("batch_id"), col("query_id"), col("rank"))
    }, {
      val batches = Seq(
        (0, "vec_id < 20", "vec_id >= 20 AND vec_id < 30"),
        (1, "vec_id < 30", "vec_id >= 30 AND vec_id < 40"))
      val branches = batches.map { case (b, corpusPred, queryPred) =>
        s"""corp$b AS (SELECT vec_id cid,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
           |  FROM embeddings WHERE $corpusPred),
           |assign$b AS (
           |  SELECT cid, cent_id AS cell FROM (
           |    SELECT c.cid, ct.cent_id,
           |      row_number() OVER (PARTITION BY c.cid
           |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC,
           |          ct.cent_id) rn
           |    FROM corp$b c, cent ct) WHERE rn = 1),
           |q$b AS (SELECT vec_id qid,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) qv
           |  FROM embeddings WHERE $queryPred),
           |probe$b AS (
           |  SELECT qid, cent_id AS cell FROM (
           |    SELECT q.qid, ct.cent_id,
           |      row_number() OVER (PARTITION BY q.qid
           |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC,
           |          ct.cent_id) rn
           |    FROM q$b q, cent ct) WHERE rn <= 2),
           |r$b AS (SELECT query_id, corpus_id, cosf,
           |    CAST(row_number() OVER (PARTITION BY query_id
           |      ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
           |  FROM (
           |    SELECT q.qid query_id, c.cid corpus_id,
           |      list_cosine_similarity(q.qv, c.v) cosf
           |    FROM q$b q JOIN probe$b p ON q.qid = p.qid
           |      JOIN assign$b a ON a.cell = p.cell
           |      JOIN corp$b c ON c.cid = a.cid))""".stripMargin
      }
      val selects = batches.map { case (b, _, _) =>
        s"""SELECT CAST($b AS BIGINT) AS batch_id, query_id, corpus_id,
           |  round(cosf, 6) AS cosine, rank FROM r$b WHERE rank <= 5""".stripMargin
      }
      s"""WITH cent AS (
         |  SELECT CAST(vec_id AS INT) cent_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) cv
         |  FROM embeddings WHERE vec_id < 8),
         |${branches.mkString(",\n")}
         |${selects.mkString("\nUNION ALL\n")}
         |ORDER BY batch_id, query_id, rank""".stripMargin
    }),

    Query("q_pq_stream", (s, dir) => {
      // STREAMING PQ ingest — the FOURTH stored index on the
      // probe-then-append discipline (enabled by the round-18 segment
      // port of the PQ store): two embedding micro-batches retrieve
      // their codes-only ADC top-5 from the ACCUMULATED store (batch 1
      // sees batch 0's codes), then append themselves as tagged segments
      // encoded against the STORED codebooks; per-batch auto-compaction
      // folds the store under the gate. The oracle replays each batch's
      // full IVF-PQ pipeline (assignment, code argmin, probe, ADC)
      // against exactly the corpus prefix that batch saw.
      val emb = t(s, dir, "embeddings")
      val idx = java.nio.file.Files
        .createTempDirectory("graft-pqstream-idx-").toString
      val head = emb.filter(col("vec_id") < 20)
      Similarity.buildIvfPqIndex(head, "vec_id", "embedding",
        Similarity.centroidsByIds(head, "vec_id", "embedding", 0L to 7L),
        Similarity.pqCodebooksByIds(head, "vec_id", "embedding", m = 8,
          0L to 15L),
        idx)
      val stream = batchFileStream(s, "pqstream",
        emb.filter(col("vec_id") >= 20 && col("vec_id") < 30),
        emb.filter(col("vec_id") >= 30 && col("vec_id") < 40))
      val sink = runSink("pqstream")((sink, ckpt) =>
        graft.streaming.Streaming.pqIngestToSink(stream, idx, "vec_id",
          "embedding", k = 5, nprobe = 2, sink, ckpt, autoCompactAt = 1))
      s.read.parquet(sink)
        .select(col("batch_id").cast("long").as("batch_id"),
          col("query_id"), col("corpus_id"), col("score"), col("rank"))
        .orderBy(col("batch_id"), col("query_id"), col("rank"))
    },
      // streaming ANN ingest replay: each batch's full IVF pipeline
      // (assign, probe top-2 cells, score, top-5 cut) against exactly the
      // corpus PREFIX that batch saw (head for batch 0, head ∪ batch 0 for
      // batch 1) — compaction is pure layout, so the replay is
      // layout-independent
      // the PQ twin: per batch prefix, the full IVF-PQ replay (code argmin
      // and cell assignment shared row-local CTEs; probe/ADC per prefix)
      pqStreamOracleSql),

    Query("q_ann_ivfpq", (s, dir) => {
      // IVF-PQ (Jégou et al., TPAMI 2011): IVF cell pruning + product-
      // quantized ADC scoring — candidates cost O(m) LUT lookups over
      // m-int codes, never a vector dot (the billion-scale payload cut:
      // codes are m bytes/row vs 4·d for raw vectors). Centroids are
      // explicit members (vec_id 0..7) and codewords explicit member
      // sub-slices (vec_id 0..15, m=8 subspaces × 8 dims), so the DuckDB
      // oracle replays the ENTIRE pipeline: assignment, probe, the
      // per-subspace L2 code argmin, and LUT scoring. nprobe=2 < nlist=8
      // keeps true IVF semantics in the check.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5,
          Similarity.centroidsByIds(emb, "vec_id", "embedding", 0L to 7L),
          Similarity.pqCodebooksByIds(emb, "vec_id", "embedding", m = 8, 0L to 15L),
          nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    },
      // full IVF-PQ replay: centroids = vec_id 0..7, codewords = sub-slices
      // of vec_id 0..15 (m=8 subspaces of 8 dims); per corpus row and
      // subspace the code is the L2-argmin codeword (direct Σ(x−y)² in dim
      // order, ties → smaller code); ADC score = Σ_s dot(q_s, word) over the
      // coded words divided by |q|·√(Σ_s |word|²) — the same arithmetic the
      // engine's LUT gather-sum kernel performs.
      """WITH corp AS (SELECT vec_id cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |cent AS (SELECT CAST(cid AS INT) cent_id, v cv FROM corp WHERE cid < 8),
        |subs AS (SELECT CAST(unnest(range(8)) AS INT) sub),
        |cw AS (SELECT s.sub, CAST(c.cid AS INT) j,
        |    c.v[s.sub*8+1 : s.sub*8+8] wv
        |  FROM corp c, subs s WHERE c.cid < 16),
        |cwn AS (SELECT sub, j, wv,
        |    list_sum(list_transform(wv, x -> x*x)) w2 FROM cw),
        |dist AS (SELECT c.cid, w.sub, w.j,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (c.v[w.sub*8+i] - w.wv[i]) * (c.v[w.sub*8+i] - w.wv[i]))) d
        |  FROM corp c, cwn w),
        |codes AS (SELECT cid, sub, j FROM (
        |    SELECT cid, sub, j,
        |      row_number() OVER (PARTITION BY cid, sub ORDER BY d, j) rn
        |    FROM dist) WHERE rn = 1),
        |assign AS (SELECT cid, cent_id AS cell FROM (
        |    SELECT c.cid, ct.cent_id,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
        |    FROM corp c, cent ct) WHERE rn = 1),
        |q AS (SELECT cid qid, v qv,
        |    sqrt(list_sum(list_transform(v, x -> x*x))) qn
        |  FROM corp WHERE cid < 3),
        |probe AS (SELECT qid, cent_id AS cell FROM (
        |    SELECT q.qid, ct.cent_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |elig AS (SELECT p.qid, a.cid FROM probe p JOIN assign a USING (cell)),
        |contrib AS (SELECT e.qid, e.cid,
        |    list_dot_product(q.qv[cd.sub*8+1 : cd.sub*8+8], w.wv) num_s,
        |    w.w2 r2_s
        |  FROM elig e JOIN q ON q.qid = e.qid
        |    JOIN codes cd ON cd.cid = e.cid
        |    JOIN cwn w ON w.sub = cd.sub AND w.j = cd.j),
        |sc AS (SELECT qid, cid, sum(num_s) num, sum(r2_s) r2
        |  FROM contrib GROUP BY 1, 2),
        |scored AS (SELECT sc.qid query_id, sc.cid corpus_id,
        |    CASE WHEN q.qn * sqrt(sc.r2) > 0
        |      THEN sc.num / (q.qn * sqrt(sc.r2)) ELSE 0.0 END s
        |  FROM sc JOIN q ON q.qid = sc.qid),
        |r AS (SELECT query_id, corpus_id, s,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY s DESC, corpus_id) AS BIGINT) rank
        |  FROM scored)
        |SELECT query_id, corpus_id, round(s, 6) AS score, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q_ann_ivfpq_rerank", (s, dir) => {
      // the two-stage retrieval the production config runs: ADC selects a
      // top-8 candidate pool per query, the exact-cosine pass re-ranks it
      // to the final top-5 — vectors join the 8·nq survivors only. The
      // oracle replays BOTH rankings (ADC pool cut, then exact), gating
      // the rerank path's tie-breaks and rounding end-to-end.
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5,
          Similarity.centroidsByIds(emb, "vec_id", "embedding", 0L to 7L),
          Similarity.pqCodebooksByIds(emb, "vec_id", "embedding", m = 8, 0L to 15L),
          nprobe = 2, rerank = 8)
        .orderBy(col("query_id"), col("rank"))
    },
      // q_ann_ivfpq's replay extended by the second stage: the ADC ranking
      // cuts a top-8 pool per query, then exact cosine re-ranks the pool to
      // the final top-5 — both rankings' tie-breaks replayed
      """WITH corp AS (SELECT vec_id cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |cent AS (SELECT CAST(cid AS INT) cent_id, v cv FROM corp WHERE cid < 8),
        |subs AS (SELECT CAST(unnest(range(8)) AS INT) sub),
        |cw AS (SELECT s.sub, CAST(c.cid AS INT) j,
        |    c.v[s.sub*8+1 : s.sub*8+8] wv
        |  FROM corp c, subs s WHERE c.cid < 16),
        |cwn AS (SELECT sub, j, wv,
        |    list_sum(list_transform(wv, x -> x*x)) w2 FROM cw),
        |dist AS (SELECT c.cid, w.sub, w.j,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (c.v[w.sub*8+i] - w.wv[i]) * (c.v[w.sub*8+i] - w.wv[i]))) d
        |  FROM corp c, cwn w),
        |codes AS (SELECT cid, sub, j FROM (
        |    SELECT cid, sub, j,
        |      row_number() OVER (PARTITION BY cid, sub ORDER BY d, j) rn
        |    FROM dist) WHERE rn = 1),
        |assign AS (SELECT cid, cent_id AS cell FROM (
        |    SELECT c.cid, ct.cent_id,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
        |    FROM corp c, cent ct) WHERE rn = 1),
        |q AS (SELECT cid qid, v qv,
        |    sqrt(list_sum(list_transform(v, x -> x*x))) qn
        |  FROM corp WHERE cid < 3),
        |probe AS (SELECT qid, cent_id AS cell FROM (
        |    SELECT q.qid, ct.cent_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |elig AS (SELECT p.qid, a.cid FROM probe p JOIN assign a USING (cell)),
        |contrib AS (SELECT e.qid, e.cid,
        |    list_dot_product(q.qv[cd.sub*8+1 : cd.sub*8+8], w.wv) num_s,
        |    w.w2 r2_s
        |  FROM elig e JOIN q ON q.qid = e.qid
        |    JOIN codes cd ON cd.cid = e.cid
        |    JOIN cwn w ON w.sub = cd.sub AND w.j = cd.j),
        |sc AS (SELECT qid, cid, sum(num_s) num, sum(r2_s) r2
        |  FROM contrib GROUP BY 1, 2),
        |adc AS (SELECT sc.qid query_id, sc.cid corpus_id,
        |    CASE WHEN q.qn * sqrt(sc.r2) > 0
        |      THEN sc.num / (q.qn * sqrt(sc.r2)) ELSE 0.0 END s
        |  FROM sc JOIN q ON q.qid = sc.qid),
        |pool AS (SELECT query_id, corpus_id FROM (
        |    SELECT query_id, corpus_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY s DESC, corpus_id) rn
        |    FROM adc) WHERE rn <= 8),
        |ex AS (SELECT p.query_id, p.corpus_id,
        |    list_cosine_similarity(q.qv, c.v) cosf
        |  FROM pool p JOIN q ON q.qid = p.query_id
        |    JOIN corp c ON c.cid = p.corpus_id),
        |r AS (SELECT query_id, corpus_id, cosf,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cosf DESC, corpus_id) AS BIGINT) rank
        |  FROM ex)
        |SELECT query_id, corpus_id, round(cosf, 6) AS score, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    Query("q_ann_ivfpq_res", (s, dir) => {
      // IVFADC proper: codes quantize v − centroid(cell), scoring adds the
      // query⋅centroid dot to the ADC gather-sum and normalizes by the
      // reconstruction norm. Codewords are EXPLICIT member residuals
      // (vec_id 0..15 after their own assignment), so the oracle replays
      // assignment, member-residual codebooks, the per-subspace argmin
      // over residuals, and the full ADC arithmetic.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.centroidsByIds(emb, "vec_id", "embedding", 0L to 7L)
      val resCb = Similarity.pqCodebooksByIds(
        Similarity.pqResiduals(emb, "vec_id", "embedding", cents),
        "id", "__v", m = 8, 0L to 15L)
      Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5,
          cents, resCb, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    },
      // IVFADC replay: residuals rounded to REAL mirror the engine's Float
      // subtraction bit-for-bit (a double difference of two floats is exact,
      // so CAST(diff AS REAL) IS the engine's float arithmetic); codewords
      // are member residual sub-slices, scoring adds the query⋅centroid dot
      // and normalizes by the reconstruction norm |centroid + codeword|²
      """WITH corp AS (SELECT vec_id cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |cent AS (SELECT CAST(cid AS INT) cent_id, v cv FROM corp WHERE cid < 8),
        |assign AS (SELECT cid, cent_id AS cell FROM (
        |    SELECT c.cid, ct.cent_id,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id) rn
        |    FROM corp c, cent ct) WHERE rn = 1),
        |resid AS (SELECT a.cid, a.cell,
        |    list_transform(range(1, 65),
        |      i -> CAST(CAST(c.v[i] - ct.cv[i] AS REAL) AS DOUBLE)) rv
        |  FROM assign a JOIN corp c ON c.cid = a.cid
        |    JOIN cent ct ON ct.cent_id = a.cell),
        |subs AS (SELECT CAST(unnest(range(8)) AS INT) sub),
        |cw AS (SELECT s.sub, CAST(r.cid AS INT) j,
        |    r.rv[s.sub*8+1 : s.sub*8+8] wv
        |  FROM resid r, subs s WHERE r.cid < 16),
        |dist AS (SELECT r.cid, w.sub, w.j,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (r.rv[w.sub*8+i] - w.wv[i]) * (r.rv[w.sub*8+i] - w.wv[i]))) d
        |  FROM resid r, cw w),
        |codes AS (SELECT cid, sub, j FROM (
        |    SELECT cid, sub, j,
        |      row_number() OVER (PARTITION BY cid, sub ORDER BY d, j) rn
        |    FROM dist) WHERE rn = 1),
        |r2t AS (SELECT cd.cid,
        |    sum(list_sum(list_transform(range(1, 9),
        |      i -> (ct.cv[cd.sub*8+i] + w.wv[i]) * (ct.cv[cd.sub*8+i] + w.wv[i])))) r2
        |  FROM codes cd JOIN assign a ON a.cid = cd.cid
        |    JOIN cent ct ON ct.cent_id = a.cell
        |    JOIN cw w ON w.sub = cd.sub AND w.j = cd.j
        |  GROUP BY cd.cid),
        |q AS (SELECT cid qid, v qv,
        |    sqrt(list_sum(list_transform(v, x -> x*x))) qn
        |  FROM corp WHERE cid < 3),
        |probe AS (SELECT qid, cent_id AS cell FROM (
        |    SELECT q.qid, ct.cent_id,
        |      row_number() OVER (PARTITION BY q.qid
        |        ORDER BY list_cosine_similarity(q.qv, ct.cv) DESC, ct.cent_id) rn
        |    FROM q, cent ct) WHERE rn <= 2),
        |qc AS (SELECT q.qid, p.cell, list_dot_product(q.qv, ct.cv) qcdot
        |  FROM probe p JOIN q ON q.qid = p.qid
        |    JOIN cent ct ON ct.cent_id = p.cell),
        |elig AS (SELECT p.qid, a.cid, a.cell FROM probe p JOIN assign a USING (cell)),
        |contrib AS (SELECT e.qid, e.cid,
        |    list_dot_product(q.qv[cd.sub*8+1 : cd.sub*8+8], w.wv) num_s
        |  FROM elig e JOIN q ON q.qid = e.qid
        |    JOIN codes cd ON cd.cid = e.cid
        |    JOIN cw w ON w.sub = cd.sub AND w.j = cd.j),
        |nsum AS (SELECT qid, cid, sum(num_s) num FROM contrib GROUP BY 1, 2),
        |scored AS (SELECT n.qid query_id, n.cid corpus_id,
        |    CASE WHEN q.qn * sqrt(r.r2) > 0
        |      THEN (k.qcdot + n.num) / (q.qn * sqrt(r.r2)) ELSE 0.0 END s
        |  FROM nsum n JOIN q ON q.qid = n.qid
        |    JOIN r2t r ON r.cid = n.cid
        |    JOIN elig e ON e.qid = n.qid AND e.cid = n.cid
        |    JOIN qc k ON k.qid = n.qid AND k.cell = e.cell),
        |r AS (SELECT query_id, corpus_id, s,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY s DESC, corpus_id) AS BIGINT) rank
        |  FROM scored)
        |SELECT query_id, corpus_id, round(s, 6) AS score, rank FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
  )
}
