package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps
import graft.ext.{Corpus, Diversify, LangModel, Profile, TextAnalysis}
import graft.spec._
import graft.SparkEntry.runnerFor
import graft.catalog.Shared._

/** The engine proper, second half: layouts and clustering (PCA, spectral,
  * UMAP, k-means, prototype drop), corpus statistics and sketches (KMV,
  * count-min, Bloom, length quantiles), source quotas and mixture weights,
  * token budgets, splits and batching, each with its spec-graph, streaming
  * and sink twins. */
object CorpusGraphQueries {

  /** Full DuckDB replay of q_umap_viz ([[graft.ml.ExactPca]]): quantized-
    * exact scaled covariance in HUGEINT, then the SAME fixed-iteration
    * power method the engine runs — every sum the same left fold
    * (`list_reduce (x,y)->x+y` ≡ `reduceLeft`), only correctly-rounded
    * IEEE ops (+,−,×,÷,sqrt), the same first-nonzero-positive sign
    * canonicalization — so the 2-D embedding hash-matches BIT FOR BIT
    * (validated 500/500 exact against an independent pinned-order
    * implementation). Constants (Quant, Iters) imported from ExactPca so
    * they can never drift. The `CAST(1.0 AS DOUBLE)` in the anchor is
    * load-bearing: a bare 1.0 is DECIMAL(2,1) in DuckDB and poisons the
    * whole recursion with scale-1 decimal arithmetic. */
  private def umapVizOracleSql: String = {
    val d = 64 // embeddings fixture dimensionality
    val it = graft.ml.ExactPca.Iters
    val qk = graft.ml.ExactPca.Quant
    def fold(terms: String) = s"list_reduce($terms, (x, y) -> x + y)"
    def matvec(am: String, v: String) =
      s"list_transform(range($d), i -> ${fold(s"list_transform(range($d), j -> $am[i+1][j+1] * $v[j+1])")})"
    def normalize(w: String) =
      s"list_transform($w, t -> t / sqrt(${fold(s"list_transform($w, u -> u * u)")}))"
    def canon(v: String) =
      s"CASE WHEN list_filter($v, t -> t <> 0)[1] < 0 " +
        s"THEN list_transform($v, t -> -t) ELSE $v END"
    def power(name: String, amExpr: String) =
      s"""$name AS (
         |  SELECT 0 AS k, list_transform(range($d), i -> CAST(1.0 AS DOUBLE)) AS v, $amExpr AS am
         |  UNION ALL
         |  SELECT k + 1, ${normalize("w")}, am
         |  FROM (SELECT k, am, ${matvec("am", "v")} AS w FROM $name WHERE k < $it))""".stripMargin
    s"""WITH RECURSIVE q AS (
       |  SELECT row_number() OVER () - 1 AS row_idx,
       |    list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * $qk) AS BIGINT)) AS qx
       |  FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM q),
       |mom AS (
       |  SELECT i, j, sum(qx[i+1] * qx[j+1]) AS mij
       |  FROM q, range($d) t1(i), range($d) t2(j) GROUP BY i, j),
       |sv AS (SELECT i, sum(qx[i+1]) AS si FROM q, range($d) t(i) GROUP BY i),
       |amat AS (
       |  SELECT list(arow ORDER BY i) AS am FROM (
       |    SELECT m.i AS i,
       |      list(CAST((SELECT n FROM nn) * m.mij - s1.si * s2.si AS DOUBLE) ORDER BY m.j) AS arow
       |    FROM mom m JOIN sv s1 ON s1.i = m.i JOIN sv s2 ON s2.i = m.j
       |    GROUP BY m.i)),
       |${power("pow1", "(SELECT am FROM amat)")},
       |r1 AS (SELECT v, am, ${matvec("am", "v")} AS av FROM pow1 WHERE k = $it),
       |c1 AS (
       |  SELECT ${canon("v")} AS v1, am,
       |    ${fold(s"list_transform(range($d), i -> v[i+1] * av[i+1])")} AS lam1
       |  FROM r1),
       |a2 AS (
       |  SELECT list_transform(range($d), i -> list_transform(range($d), j ->
       |    am[i+1][j+1] - lam1 * v1[i+1] * v1[j+1])) AS am2, v1
       |  FROM c1),
       |${power("pow2", "(SELECT am2 FROM a2)")},
       |c2 AS (SELECT ${canon("v")} AS v2 FROM pow2 WHERE k = $it)
       |SELECT row_idx,
       |  ${fold(s"list_transform(range($d), j -> qx[j+1] * c1.v1[j+1])")} AS x,
       |  ${fold(s"list_transform(range($d), j -> qx[j+1] * c2.v2[j+1])")} AS y
       |FROM q, c1, c2 ORDER BY row_idx""".stripMargin
  }

  /** q_kmeans gate constants, shared by the queries and the oracle so the
    * clustering setup can never drift between engine and replay. */
  private val KmInitIds: Seq[Long] = 0L until 8L
  private val KmIters: Int = 4

  /** q_proto_drop / q_d4_graph gate fraction (shared engine/oracle): drop
    * the 1/4 of each k-means cell closest to its centroid. */
  private val ProtoDropNum: Long = 1L
  private val ProtoDropDen: Long = 4L

  /** q_distinct_sketch KMV size (shared engine/oracle): straddles the sf
    * language cardinalities — en (218 distinct texts at sf0.01) runs the
    * estimator, de/es/fr/zh (< 80) the exact below-k path. */
  private val KmvK: Int = 80

  /** q_cms sketch shape (shared engine/oracle): width 128 against
    * thousands of distinct corpus words forces real collision mass into
    * every counter, so the gate exercises the min-over-rows estimate, not
    * a collision-free identity. */
  private val CmsDepth: Int = 4
  private val CmsWidth: Int = 128

  /** DuckDB replay of q_bloom / q_bloom_stream: the reference's distinct
    * bit positions, the per-doc k-bit probe, and the exact-membership
    * truth column. */
  private def bloomOracleSql: String =
    s"""WITH ref AS (SELECT DISTINCT text FROM documents WHERE doc_id < 2000),
       |rs AS (SELECT unnest(range($BloomK)) AS i),
       |bits AS (SELECT DISTINCT
       |           CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
       |             AS BIGINT) % $BloomM AS bit
       |         FROM ref, rs),
       |ph AS (SELECT doc_id,
       |         CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
       |           AS BIGINT) % $BloomM AS bit
       |       FROM documents, rs),
       |bm AS (SELECT doc_id,
       |         COUNT(*) FILTER (WHERE bit IN (SELECT bit FROM bits))
       |           = $BloomK AS bloom_hit
       |       FROM ph GROUP BY doc_id)
       |SELECT d.doc_id, bm.bloom_hit,
       |       (d.text IN (SELECT text FROM ref)) AS exact_hit
       |FROM documents d JOIN bm USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB replay of q_cms / q_cms_stream: word counts once, then every
    * occupied counter as the per-(row, bucket) sum over the words hashing
    * there — the min-over-rows probe replayed counter for counter. */
  private def cmsOracleSql: String =
    s"""WITH w AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |    x -> length(x) > 0)) AS word FROM documents),
       |wc AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1),
       |rs AS (SELECT unnest(range($CmsDepth)) AS r),
       |sk AS (SELECT r,
       |         CAST('0x'||substr(md5('cms'||r||chr(31)||word),1,15)
       |           AS BIGINT) % $CmsWidth AS bucket,
       |         SUM(cnt) AS cnt
       |       FROM wc, rs GROUP BY 1, 2),
       |top AS (SELECT word, cnt AS exact_cnt FROM wc
       |        ORDER BY cnt DESC, word LIMIT 20),
       |probe AS (SELECT word, exact_cnt, r,
       |            CAST('0x'||substr(md5('cms'||r||chr(31)||word),1,15)
       |              AS BIGINT) % $CmsWidth AS bucket
       |          FROM top, rs)
       |SELECT word, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       |       CAST(MIN(sk.cnt) AS BIGINT) AS est_cnt
       |FROM probe JOIN sk USING (r, bucket)
       |GROUP BY word, exact_cnt
       |ORDER BY exact_cnt DESC, word""".stripMargin

  /** q_cms_sink replay: per batch prefix (even doc_ids; everything), the
    * prefix's counter matrix probed for the CORPUS-WIDE top-20 — the sum
    * monoid makes batch 1 equal the plain q_cms oracle. */
  private def cmsSinkOracleSql: String = {
    val legs = Seq(0 -> "doc_id % 2 = 0", 1 -> "1 = 1").map { case (b, w) =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, word,
         |  CAST(exact_cnt AS BIGINT) AS exact_cnt,
         |  CAST(MIN(sk$b.cnt) AS BIGINT) AS est_cnt
         |FROM probe JOIN (
         |  SELECT r, CAST('0x'||substr(md5('cms'||r||chr(31)||word),1,15)
         |      AS BIGINT) % $CmsWidth AS bucket, SUM(cnt) AS cnt
         |  FROM (SELECT word, COUNT(*) AS cnt FROM (
         |      SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |        x -> length(x) > 0)) AS word FROM documents WHERE $w)
         |    GROUP BY 1), rs GROUP BY 1, 2) sk$b USING (r, bucket)
         |GROUP BY word, exact_cnt""".stripMargin
    }
    s"""WITH w AS (
       |  SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |    x -> length(x) > 0)) AS word FROM documents),
       |wc AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY 1),
       |rs AS (SELECT unnest(range($CmsDepth)) AS r),
       |top AS (SELECT word, cnt AS exact_cnt FROM wc
       |        ORDER BY cnt DESC, word LIMIT 20),
       |probe AS (SELECT word, exact_cnt, r,
       |            CAST('0x'||substr(md5('cms'||r||chr(31)||word),1,15)
       |              AS BIGINT) % $CmsWidth AS bucket
       |          FROM top, rs)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY batch_id, exact_cnt DESC, word""".stripMargin
  }

  /** q_bloom_sink replay: per batch prefix of the reference snapshot, the
    * prefix bitmap's corpus probe with exact_hit = prefix membership. */
  private def bloomSinkOracleSql: String = {
    val legs = Seq(0, 1).map { b =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, d.doc_id, bm.bloom_hit,
         |  (d.text IN (SELECT text FROM ref$b)) AS exact_hit
         |FROM documents d JOIN (
         |  SELECT doc_id, COUNT(*) FILTER (WHERE bit IN (
         |      SELECT DISTINCT CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
         |        AS BIGINT) % $BloomM FROM ref$b, rs)) = $BloomK AS bloom_hit
         |  FROM ph GROUP BY doc_id) bm USING (doc_id)""".stripMargin
    }
    s"""WITH rs AS (SELECT unnest(range($BloomK)) AS i),
       |ref0 AS (SELECT DISTINCT text FROM documents
       |         WHERE doc_id < 2000 AND doc_id % 2 = 0),
       |ref1 AS (SELECT DISTINCT text FROM documents WHERE doc_id < 2000),
       |ph AS (SELECT doc_id,
       |         CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
       |           AS BIGINT) % $BloomM AS bit
       |       FROM documents, rs)
       |${legs.mkString("\nUNION ALL\n")}
       |ORDER BY batch_id, doc_id""".stripMargin
  }

  /** q_bloom filter shape (shared engine/oracle): ~2k reference texts ×
    * 3 hashes into 16384 bits ⇒ load ≈ 0.37 per hash, FP rate ≈ 3% — the
    * gate sees REAL false positives (one-sidedness exercised, not a
    * collision-free identity) while every verdict stays deterministic. */
  private val BloomK: Int = 3
  private val BloomM: Int = 16384

  /** Spectral gate corpus cap (shared engine/oracle): brute-force kNN is
    * O(n²) by design — the gate form; production uses LSH/IVF edges via
    * [[graft.ml.Spectral.embed2dFromEdges]]. sf0.01's full embeddings
    * table (500 rows) sits under the cap, so the correctness gate covers
    * the whole table; the cap only bounds the larger bench inputs. */
  private val SpectralCap: Long = 1000L

  /** Shared CTE suffix of the prototype-drop oracles (appended to
    * [[kmeansOracleSql]]'s unrolled iterations): exact-squared-distance
    * re-assignment against the final centroid matrix `m_KmIters` (pure
    * BIGINT arithmetic — [[graft.ml.ExactKMeans.assignByDistance]]),
    * within-cell closeness rank, per-cell counts. */
  private def protoDropCtes: String =
    s""", dx AS (
       |  SELECT qe.id, m.cell,
       |    CAST(SUM((qe.qv - m.qm) * (qe.qv - m.qm)) AS BIGINT) AS d2
       |  FROM qe JOIN m$KmIters m ON qe.dim = m.dim
       |  GROUP BY qe.id, m.cell),
       |ax AS (
       |  SELECT id, cell, d2 FROM (
       |    SELECT id, cell, d2, row_number() OVER (PARTITION BY id
       |      ORDER BY d2, cell) AS rn FROM dx) WHERE rn = 1),
       |rnk AS (
       |  SELECT id, cell, d2,
       |    CAST(row_number() OVER (PARTITION BY cell
       |      ORDER BY d2, id) AS BIGINT) AS rnk
       |  FROM ax),
       |cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS cnt
       |  FROM ax GROUP BY cell)
       |""".stripMargin

  /** Full DuckDB replay of q_kmeans / q_km_graph
    * ([[graft.ml.ExactKMeans]]): every Lloyd iteration UNROLLED — score =
    * `(Σqx·qm − Σqm²/2)/1e12` exactly as [[mcEmbedSqlCtes]] (the proven
    * bit-identical form), argmax = row_number (score DESC, cell ASC) =
    * first-max, update = per-(cell, dim) `round(sum/count)` LEFT-merged
    * onto the previous matrix so empty cells carry. `finalSelect` adapts
    * the output shape: (id, cell, score) for the direct query, (row_idx,
    * value) categorical for the spec twin. */
  private def kmeansOracleSql(idExpr: String, finalSelect: String): String = {
    val init = KmInitIds.zipWithIndex
      .map { case (id, c) => s"($c, $id)" }.mkString(", ")
    val iterCtes = (1 to KmIters).map { i =>
      s"""s$i AS (
         |  SELECT qe.id, m.cell,
         |    (CAST(SUM(qe.qv * m.qm) AS DOUBLE)
         |      - CAST(SUM(m.qm * m.qm) AS DOUBLE) / 2.0) / 1e12 AS score
         |  FROM qe JOIN m${i - 1} m ON qe.dim = m.dim
         |  GROUP BY qe.id, m.cell),
         |a$i AS (
         |  SELECT id, cell FROM (
         |    SELECT id, cell, row_number() OVER (PARTITION BY id
         |      ORDER BY score DESC, cell) AS rn FROM s$i) WHERE rn = 1),
         |c$i AS (
         |  SELECT a.cell, qe.dim,
         |    CAST(round(CAST(SUM(qe.qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS qm
         |  FROM a$i a JOIN qe ON qe.id = a.id GROUP BY a.cell, qe.dim),
         |m$i AS (
         |  SELECT m.cell, m.dim, coalesce(c.qm, m.qm) AS qm
         |  FROM m${i - 1} m LEFT JOIN c$i c
         |    ON c.cell = m.cell AND c.dim = m.dim)""".stripMargin
    }.mkString(",\n")
    val fin = KmIters + 1
    s"""WITH q AS (
       |  SELECT $idExpr AS id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qx
       |  FROM embeddings),
       |qd AS (SELECT id, qx, unnest(range(len(qx))) AS dim FROM q),
       |qe AS (SELECT id, dim, qx[dim + 1] AS qv FROM qd),
       |init(cell, iid) AS (VALUES $init),
       |m0 AS (
       |  SELECT init.cell, qe.dim, qe.qv AS qm
       |  FROM init JOIN qe ON qe.id = init.iid),
       |$iterCtes,
       |s$fin AS (
       |  SELECT qe.id, m.cell,
       |    (CAST(SUM(qe.qv * m.qm) AS DOUBLE)
       |      - CAST(SUM(m.qm * m.qm) AS DOUBLE) / 2.0) / 1e12 AS score
       |  FROM qe JOIN m$KmIters m ON qe.dim = m.dim
       |  GROUP BY qe.id, m.cell),
       |a$fin AS (
       |  SELECT id, cell, score FROM (
       |    SELECT id, cell, score, row_number() OVER (PARTITION BY id
       |      ORDER BY score DESC, cell) AS rn FROM s$fin) WHERE rn = 1)
       |$finalSelect""".stripMargin
  }

  /** Full DuckDB replay of q_spectral ([[graft.ml.Spectral]]): the kNN
    * graph (rounded-cosine rank, corpus-id tie-break, symmetrize+distinct)
    * AND the joint orthogonal iteration — Iters steps, each one double
    * SpMV in BIGINT, the five exact HUGEINT moments, the micro-quantized
    * deflation `rq = round(num/den·1e6)` and the pure-integer
    * `z2 = 1e6(y2−m2) − rq·z1`, the same correctly-rounded IEEE
    * divide/sqrt/multiply sequence and half-up rounds — run in ONE
    * recursive CTE (the ExactPca-oracle recursion pattern, applied to a
    * data-sized iterate carried as LISTs in a single row). Constants
    * (Quant, DefaultK, DefaultIters, the two md5 seed tags) come from
    * [[graft.ml.Spectral]] so they can never drift. `1e6`-style literals
    * are DOUBLE in DuckDB (a bare 1000000.0 would be DECIMAL and poison
    * the recursion — the ExactPca oracle's lesson). */
  private def spectralOracleSql: String =
    spectralOracleSql("CAST(vec_id AS BIGINT)", "id")

  /** `idExpr` selects the node-id source (vec_id for the direct query;
    * positional row_number for the spec-layer twin whose ids are row
    * indices — the umapVizOracleSql precedent); `idName` names the output
    * column to match the Spark side. */
  private def spectralOracleSql(idExpr: String, idName: String): String = {
    val it = graft.ml.Spectral.DefaultIters
    val kk = graft.ml.Spectral.DefaultK
    val modulus = 2L * graft.ml.Spectral.Quant.toLong + 1L // 2Q+1
    val q = graft.ml.Spectral.Quant.toLong
    def fold(terms: String) = s"list_reduce($terms, (a, b) -> a + b)"
    // VectorKernels.dot: left-to-right double accumulation of per-element
    // float→double products
    def dot(a: String, b: String) =
      fold(s"list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])")
    def seed(idExpr: String) =
      s"(CAST('0x' || substr(md5('spectral:' || CAST($idExpr AS VARCHAR)), 1, 15) AS BIGINT) % $modulus) - $q"
    def canon(v: String) =
      s"CASE WHEN list_filter($v, t -> t <> 0)[1] < 0 " +
        s"THEN list_transform($v, t -> -t) ELSE $v END"
    def spmv(x: String) =
      s"list_transform(range(n), i -> (c - degl[i+1]) * $x[i+1] + ${fold(s"list_transform(adjl[i+1], j -> $x[j+1])")})"
    s"""WITH RECURSIVE v AS (
       |  SELECT * FROM (
       |    SELECT $idExpr AS id,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
       |    FROM embeddings) WHERE id < $SpectralCap),
       |nrm AS (SELECT id, ev, sqrt(${dot("ev", "ev")}) AS nv FROM v),
       |pr AS (
       |  SELECT qn.id AS qid, cn.id AS cid,
       |    round(CASE WHEN qn.nv * cn.nv > 0
       |      THEN ${fold("list_transform(range(len(qn.ev)), i -> qn.ev[i+1] * cn.ev[i+1])")} / (qn.nv * cn.nv)
       |      ELSE 0.0 END, 6) AS c6
       |  FROM nrm qn, nrm cn),
       |rk AS (SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY c6 DESC, cid) AS rk
       |  FROM pr),
       |e0 AS (SELECT qid AS src, cid AS dst FROM rk
       |  WHERE rk <= ${kk + 1} AND qid <> cid),
       |edges AS (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
       |nodes AS (
       |  SELECT d.id, d.deg, row_number() OVER (ORDER BY d.id) - 1 AS p
       |  FROM (SELECT dst AS id, count(*) AS deg FROM edges GROUP BY dst) d),
       |adj AS (
       |  SELECT n1.p AS pd, list(n2.p ORDER BY n2.p) AS nbrs
       |  FROM edges e JOIN nodes n1 ON n1.id = e.dst
       |    JOIN nodes n2 ON n2.id = e.src
       |  GROUP BY n1.p),
       |consts AS (SELECT
       |  (SELECT list(deg ORDER BY p) FROM nodes) AS degl,
       |  (SELECT list(nbrs ORDER BY pd) FROM adj) AS adjl,
       |  (SELECT list(id ORDER BY p) FROM nodes) AS idl,
       |  (SELECT count(*) FROM nodes) AS n,
       |  (SELECT 2 * max(deg) FROM nodes) AS c),
       |pow AS (
       |  SELECT 0 AS k,
       |    list_transform(idl, id -> ${seed("id")}) AS x1,
       |    list_transform(idl, id -> ${seed("id + 1000000007")}) AS x2,
       |    degl, adjl, n, c
       |  FROM consts
       |  UNION ALL
       |  SELECT k + 1,
       |    list_transform(y1, t -> CAST(round(CAST(t - m1 AS DOUBLE) / sqrt(CAST(den AS DOUBLE)) * 1e6) AS BIGINT)),
       |    list_transform(range(n), i -> CAST(round(CAST((y2[i+1] - m2) * 1000000 - rq * (y1[i+1] - m1) AS DOUBLE) / sqrt(CAST(szz2 AS DOUBLE)) * 1e6) AS BIGINT)),
       |    degl, adjl, n, c
       |  FROM (
       |    SELECT k, degl, adjl, n, c, y1, y2, m1, m2, den, rq,
       |      1000000000000 * (s22 - 2 * CAST(m2 AS HUGEINT) * s2 + n * CAST(m2 AS HUGEINT) * m2)
       |        - 2000000 * CAST(rq AS HUGEINT) * num
       |        + CAST(rq AS HUGEINT) * rq * den AS szz2
       |    FROM (
       |      SELECT k, degl, adjl, n, c, y1, y2, m1, m2, s2, s22, den, num,
       |        CAST(round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 1e6) AS BIGINT) AS rq
       |      FROM (
       |        SELECT k, degl, adjl, n, c, y1, y2, m1, m2, s2, s22,
       |          s11 - 2 * CAST(m1 AS HUGEINT) * s1 + n * CAST(m1 AS HUGEINT) * m1 AS den,
       |          s12 - CAST(m1 AS HUGEINT) * s2 - CAST(m2 AS HUGEINT) * s1 + n * CAST(m1 AS HUGEINT) * m2 AS num
       |        FROM (
       |          SELECT k, degl, adjl, n, c, y1, y2, s1, s11, s2, s22, s12,
       |            CAST(round(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS m1,
       |            CAST(round(CAST(s2 AS DOUBLE) / n) AS BIGINT) AS m2
       |          FROM (
       |            SELECT k, degl, adjl, n, c, y1, y2,
       |              ${fold("list_transform(y1, t -> CAST(t AS HUGEINT))")} AS s1,
       |              ${fold("list_transform(y1, t -> CAST(t AS HUGEINT) * t)")} AS s11,
       |              ${fold("list_transform(y2, t -> CAST(t AS HUGEINT))")} AS s2,
       |              ${fold("list_transform(y2, t -> CAST(t AS HUGEINT) * t)")} AS s22,
       |              ${fold("list_transform(range(len(y1)), i -> CAST(y1[i+1] AS HUGEINT) * y2[i+1])")} AS s12
       |            FROM (
       |              SELECT k, degl, adjl, n, c,
       |                ${spmv("x1")} AS y1, ${spmv("x2")} AS y2
       |              FROM pow WHERE k < $it)))))) ),
       |f AS (
       |  SELECT ${canon("x1")} AS v1f, ${canon("x2")} AS v2f
       |  FROM pow WHERE k = $it)
       |SELECT nd.id AS $idName,
       |  CAST(f.v1f[nd.p + 1] AS DOUBLE) / 1e6 AS e1,
       |  CAST(f.v2f[nd.p + 1] AS DOUBLE) / 1e6 AS e2
       |FROM nodes nd, f ORDER BY $idName""".stripMargin
  }

  /** q_umap_layout gate epochs / negative samples per node per epoch
    * (shared engine/oracle — [[graft.ml.UmapLayout]] constants govern the
    * arithmetic; these govern the gate's loop shape). */
  private val UmapGateIters: Int = 8
  private val UmapGateNegs: Int = 4

  /** Full DuckDB replay of q_umap_layout ([[graft.ml.UmapLayout]]): the
    * SAME kNN CTEs as the spectral oracle (identical graph construction),
    * then every force-layout epoch in one recursive CTE — per edge the
    * clipped Cauchy attractive term, per md5-drawn negative sample the
    * clipped repulsive term (exact int64 displacement/distance arithmetic,
    * ONE correctly-rounded divide·multiply·half-up-round per term), exact
    * integer per-node sums, and the lr-decayed capped update — bit-for-bit.
    * Constants (Quant grid, ±4-unit clip, ±1000-unit cap, ±10-unit init
    * box, ε = 1e−3) are spelled as the same literals
    * [[graft.ml.UmapLayout]] plants in its Spark expressions. */
  private def umapOracleSql: String =
    umapOracleSql("CAST(vec_id AS BIGINT)", "id")

  private def umapOracleSql(idExpr: String, idName: String): String = {
    val it = UmapGateIters
    val s = UmapGateNegs
    val kk = graft.ml.Spectral.DefaultK
    val clip = graft.ml.UmapLayout.Clip
    val cap = graft.ml.UmapLayout.CoordCap
    val boxMod = 2L * graft.ml.UmapLayout.InitBox + 1L
    val box = graft.ml.UmapLayout.InitBox
    def fold(terms: String) = s"list_reduce($terms, (a, b) -> a + b)"
    def dot(a: String, b: String) =
      fold(s"list_transform(range(len($a)), i -> $a[i+1] * $b[i+1])")
    def seed(axis: String) =
      s"(CAST('0x' || substr(md5('umap:$axis:' || CAST(id AS VARCHAR)), 1, 15) AS BIGINT) % $boxMod) - $box"
    def negPos(r: Int) =
      s"CAST('0x' || substr(md5('umapneg:' || k || ':$r:' || CAST(idl[i+1] AS VARCHAR)), 1, 15) AS BIGINT) % n"
    // one clipped term; `j` is a POSITION expression into the qx/qy lists
    def att(q: String, o: String) =
      s"GREATEST(-$clip, LEAST($clip, CAST(round(-(2e12 / (1e12 + ($q[i+1]-$q[j+1])*($q[i+1]-$q[j+1]) + ($o[i+1]-$o[j+1])*($o[i+1]-$o[j+1]))) * ($q[i+1]-$q[j+1])) AS BIGINT)))"
    def rep(q: String, o: String, j: String) =
      s"GREATEST(-$clip, LEAST($clip, CAST(round((2e24 / ((1e9 + ($q[i+1]-$q[$j+1])*($q[i+1]-$q[$j+1]) + ($o[i+1]-$o[$j+1])*($o[i+1]-$o[$j+1])) * (1e12 + ($q[i+1]-$q[$j+1])*($q[i+1]-$q[$j+1]) + ($o[i+1]-$o[$j+1])*($o[i+1]-$o[$j+1])))) * ($q[i+1]-$q[$j+1])) AS BIGINT)))"
    def force(q: String, o: String) = {
      val attF = fold(s"list_transform(adjl[i+1], j -> ${att(q, o)})")
      // each slot's md5 position expression is inlined wholesale (the jp
      // recomputation is deterministic; the oracle runs on ≤ SpectralCap)
      val repF = (0 until s).map(r => rep(q, o, s"(${negPos(r)})"))
        .mkString(" + ")
      s"$attF + $repF"
    }
    def step(q: String, f: String) =
      s"GREATEST(-$cap, LEAST($cap, $q[i+1] + CAST(round(CAST($f AS DOUBLE) * ($it - k) / $it) AS BIGINT)))"
    s"""WITH RECURSIVE v AS (
       |  SELECT * FROM (
       |    SELECT $idExpr AS id,
       |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
       |    FROM embeddings) WHERE id < $SpectralCap),
       |nrm AS (SELECT id, ev, sqrt(${dot("ev", "ev")}) AS nv FROM v),
       |pr AS (
       |  SELECT qn.id AS qid, cn.id AS cid,
       |    round(CASE WHEN qn.nv * cn.nv > 0
       |      THEN ${fold("list_transform(range(len(qn.ev)), i -> qn.ev[i+1] * cn.ev[i+1])")} / (qn.nv * cn.nv)
       |      ELSE 0.0 END, 6) AS c6
       |  FROM nrm qn, nrm cn),
       |rk AS (SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY c6 DESC, cid) AS rk
       |  FROM pr),
       |e0 AS (SELECT qid AS src, cid AS dst FROM rk
       |  WHERE rk <= ${kk + 1} AND qid <> cid),
       |edges AS (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)),
       |nodes AS (
       |  SELECT d.id, row_number() OVER (ORDER BY d.id) - 1 AS p
       |  FROM (SELECT DISTINCT src AS id FROM edges) d),
       |adj AS (
       |  SELECT n1.p AS ps, list(n2.p ORDER BY n2.p) AS nbrs
       |  FROM edges e JOIN nodes n1 ON n1.id = e.src
       |    JOIN nodes n2 ON n2.id = e.dst
       |  GROUP BY n1.p),
       |consts AS (SELECT
       |  (SELECT list(nbrs ORDER BY ps) FROM adj) AS adjl,
       |  (SELECT list(id ORDER BY p) FROM nodes) AS idl,
       |  (SELECT count(*) FROM nodes) AS n),
       |pow AS (
       |  SELECT 0 AS k,
       |    list_transform(idl, id -> ${seed("x")}) AS qx,
       |    list_transform(idl, id -> ${seed("y")}) AS qy,
       |    adjl, idl, n
       |  FROM consts
       |  UNION ALL
       |  SELECT k + 1,
       |    list_transform(range(n), i -> ${step("qx", s"${force("qx", "qy")}")}),
       |    list_transform(range(n), i -> ${step("qy", s"${force("qy", "qx")}")}),
       |    adjl, idl, n
       |  FROM pow WHERE k < $it),
       |f AS (SELECT qx, qy FROM pow WHERE k = $it)
       |SELECT nd.id AS $idName,
       |  CAST(f.qx[nd.p + 1] AS DOUBLE) / 1e6 AS e1,
       |  CAST(f.qy[nd.p + 1] AS DOUBLE) / 1e6 AS e2
       |FROM nodes nd, f ORDER BY $idName""".stripMargin
  }

  /** Shared replay of q_token_budget AND its streaming twin q_tb_stream:
    * per-language priority-DESC window cumsum, kept while ≤ the budget. */
  private lazy val tokenBudgetOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, n_chars,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT doc_id, lang, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
       |FROM c WHERE cum <= $TbBudget ORDER BY doc_id""".stripMargin

  /** One per-prefix leg of the q_card_sink oracle: the statsCard CTE
    * chain (KMV + exact totals) over `documents WHERE <whereSql>`, CTE
    * names suffixed `$b`, projecting the batch id. */
  private def cardSinkLegSql(b: Int, whereSql: String): String =
    s"""h$b AS (
       |  SELECT DISTINCT lang,
       |    CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS h
       |  FROM documents WHERE $whereSql),
       |r$b AS (
       |  SELECT lang, h,
       |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM h$b),
       |g$b AS (
       |  SELECT lang, CAST(max(cnt) AS BIGINT) AS cnt,
       |    max(CASE WHEN rn = $KmvK THEN h END) AS hk
       |  FROM r$b GROUP BY lang),
       |t$b AS (
       |  SELECT lang,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens,
       |    CAST(sum(length(text)) AS BIGINT) AS n_chars
       |  FROM documents WHERE $whereSql GROUP BY lang)""".stripMargin

  /** q_card_sink replay: the running card after each micro-batch equals
    * the batch card over exactly the prefix that batch saw — batch 0 =
    * the even doc_ids, batch 1 = everything. */
  private def cardSinkOracleSql: String = {
    val legs = Seq(0 -> "doc_id % 2 = 0", 1 -> "1 = 1")
    val selects = legs.map { case (b, _) =>
      s"""SELECT CAST($b AS BIGINT) AS batch_id, t$b.lang, t$b.n_docs,
         |  t$b.n_tokens, t$b.n_chars,
         |  CASE WHEN g$b.cnt < $KmvK THEN g$b.cnt
         |    ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) *
         |      CAST(${Profile.HashSpace} AS HUGEINT)) // g$b.hk AS BIGINT)
         |  END AS est_distinct_texts
         |FROM t$b JOIN g$b USING (lang)""".stripMargin
    }
    s"""WITH ${legs.map { case (b, w) => cardSinkLegSql(b, w) }.mkString(",\n")}
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY batch_id, lang""".stripMargin
  }

  /** q_tb_sink replay: batch 0 (even doc_ids) fills before batch 1 (odd),
    * so the durable ledger is ONE window cumsum keyed
    * (batch, priority DESC, id) — keep realized as a column. */
  private lazy val tbSinkOracleSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, n_chars,
       |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
       |    CAST(doc_id % 2 AS BIGINT) AS batch_id
       |  FROM documents),
       |c AS (
       |  SELECT batch_id, doc_id, lang, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY lang
       |      ORDER BY batch_id, n_chars DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM t)
       |SELECT batch_id, doc_id, lang, n_tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens, cum <= $TbBudget AS keep
       |FROM c ORDER BY doc_id""".stripMargin

  /** Shared replay of q_stats_graph AND its streaming twin q_stats_stream:
    * the q_distinct_sketch KMV chain + exact token/char totals, keyed by
    * the lang column as `group`. */
  private lazy val statsCardOracleSql: String =
    s"""WITH h AS (
       |  SELECT DISTINCT lang,
       |    CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS h
       |  FROM documents),
       |r AS (
       |  SELECT lang, h,
       |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS cnt
       |  FROM h),
       |g AS (
       |  SELECT lang, CAST(max(cnt) AS BIGINT) AS cnt,
       |    max(CASE WHEN rn = $KmvK THEN h END) AS hk
       |  FROM r GROUP BY lang),
       |t AS (
       |  SELECT lang,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens,
       |    CAST(sum(length(text)) AS BIGINT) AS n_chars
       |  FROM documents GROUP BY lang)
       |SELECT t.lang AS "group", t.n_docs, t.n_tokens, t.n_chars,
       |  CASE WHEN g.cnt < $KmvK THEN g.cnt
       |    ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) *
       |      CAST(${Profile.HashSpace} AS HUGEINT)) // g.hk AS BIGINT)
       |  END AS est_distinct_texts
       |FROM t JOIN g USING (lang) ORDER BY "group"""".stripMargin

  val queries: Seq[Query] = Seq(

    Query("q_umap_viz", (s, dir) => {
      // UMAPVizOp → ExactPca(2) stand-in (round 12): quantized-exact
      // covariance + fixed-iteration power method, sign-canonical — fully
      // deterministic, so the DuckDB replay hash-checks the embedding
      // bit for bit (was rows-only while Spark ML PCA's axes were
      // sign-indeterminate)
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val viz = UMAPVizOp(SelectVectorColumnOp(ds, "embedding"))
      r.toFrame(viz)
        .select(col(ColumnOps.RowIdx).as("row_idx"),
          element_at(col("value"), 1).as("x"), element_at(col("value"), 2).as("y"))
        .orderBy(col("row_idx"))
    }, umapVizOracleSql),

    Query("q_spectral", (s, dir) => {
      // Laplacian-eigenmaps 2-D manifold embedding (Belkin & Niyogi 2003)
      // — the REAL nonlinear layout the ExactPca stand-in can't produce;
      // quantized-exact joint orthogonal iteration, so the DuckDB oracle
      // replays the kNN graph AND all iterations bit-for-bit. The gate
      // corpus is capped (brute-force kNN is the O(n²) gate form — the
      // scale path injects LSH/IVF edges via embed2dFromEdges); sf0.01's
      // full table sits under the cap, so correctness covers everything
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < SpectralCap)
      graft.ml.Spectral.embed2d(emb, "vec_id", "embedding")
        .orderBy(col("id"))
    }, spectralOracleSql),

    Query("q_umap_layout", (s, dir) => {
      // round 18 (VERDICT r17 missing #2): the REAL UMAP — the force-
      // directed optimization phase itself (ml/UmapLayout.scala: Cauchy-
      // kernel attract/repulse gradients, md5 negative sampling, linear
      // lr decay), not a projection stand-in. Quantized-exact epochs, so
      // the DuckDB oracle replays the kNN graph AND every epoch's every
      // gradient term bit-for-bit. init=random is the gate form (the
      // oracle replays the layout loop in isolation); the spectral-init
      // default composes Spectral.embed2d (already oracled by q_spectral)
      // with this loop, pinned bit-exactly local-vs-distributed in
      // UmapSpec. Same O(n²) gate-form kNN cap as q_spectral — the scale
      // path injects LSH/IVF candidate edges via embedFromEdges.
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < SpectralCap)
      graft.ml.UmapLayout.embed(emb, "vec_id", "embedding",
          k = graft.ml.Spectral.DefaultK, iters = UmapGateIters,
          negatives = UmapGateNegs, init = "random")
        .orderBy(col("id"))
    }, umapOracleSql),

    Query("q_kmeans", (s, dir) => {
      // quantized-exact distributed k-means (ml/ExactKMeans.scala):
      // member-init centroids (vec_ids 0..7 — the SemanticDedupOp
      // falsifiability contract), 4 Lloyd passes of integer argmax
      // assignment + integer-mean update — the DuckDB oracle unrolls every
      // iteration and replays cells AND scores bit-for-bit
      val emb = t(s, dir, "embeddings")
      val fit = graft.ml.ExactKMeans.fit(emb, "vec_id", "embedding",
        KmInitIds, KmIters)
      graft.ml.ExactKMeans.assign(emb,
          col("vec_id").cast("long"), col("embedding"), fit)
        .orderBy(col("id"))
    }, kmeansOracleSql("CAST(vec_id AS BIGINT)",
      s"SELECT id, CAST(cell AS INTEGER) AS cell, score FROM a${KmIters + 1} ORDER BY id")),

    Query("q_km_graph", (s, dir) => {
      // spec-layer twin: KMeansClusterOp through the content-addressed
      // runner — cluster id as a CATEGORICAL value column (composable with
      // masks / grouped filters / stratified sampling)
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val km = KMeansClusterOp(SelectVectorColumnOp(ds, "embedding"),
        KmInitIds, KmIters)
      r.toFrame(km)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value"))
        .orderBy(col("row_idx"))
    }, kmeansOracleSql("row_number() OVER () - 1",
      s"SELECT id AS row_idx, CAST(cell AS VARCHAR) AS value FROM a${KmIters + 1} ORDER BY row_idx")),

    Query("q_proto_drop", (s, dir) => {
      // D4 prototype-drop (ext/Diversify.scala, Tirumala 2023): the SAME
      // exact k-means fit as q_kmeans (member-init ids 0..7, 4 Lloyd
      // passes), then drop the 1/4 of each cell CLOSEST to its centroid —
      // diversity-keeping selection; the oracle extends the unrolled
      // k-means replay with the per-cell rank and the integer
      // floor-division drop count
      val emb = t(s, dir, "embeddings")
      val fit = graft.ml.ExactKMeans.fit(emb, "vec_id", "embedding",
        KmInitIds, KmIters)
      Diversify.prototypeDrop(emb, "vec_id", "embedding", fit,
          ProtoDropNum, ProtoDropDen)
        .orderBy(col("id"))
    },
      // D4 prototype-drop replay: the unrolled k-means oracle's FITTED
      // centroids, then a pure-integer exact-squared-distance assignment
      // (dx/ax — ExactKMeans.assignByDistance: argmin d2, ties → smaller
      // cell), the per-cell prototypicality rank (d2 ASC = closest first)
      // and the integer floor-division drop count — survivors only
      kmeansOracleSql("CAST(vec_id AS BIGINT)",
      protoDropCtes +
      s"""SELECT r.id, CAST(r.cell AS INTEGER) AS cell, r.rnk, r.d2
         |FROM rnk r JOIN cnt c ON c.cell = r.cell
         |WHERE r.rnk > (c.cnt * $ProtoDropNum) // $ProtoDropDen
         |ORDER BY r.id""".stripMargin)),

    Query("q_d4_graph", (s, dir) => {
      // spec-layer twin: PrototypeDropOp keep verdicts as a BOOLEAN value
      // column — composable with MaskRowsOp exactly like the token-budget
      // and keep-best verdicts
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val pd = PrototypeDropOp(SelectVectorColumnOp(ds, "embedding"),
        KmInitIds, KmIters, ProtoDropNum, ProtoDropDen)
      r.toFrame(pd)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value"))
        .orderBy(col("row_idx"))
    },
      // spec twin: keep verdicts for EVERY row as a boolean value column
      kmeansOracleSql("row_number() OVER () - 1",
      protoDropCtes +
      s"""SELECT r.id AS row_idx,
         |  (r.rnk > (c.cnt * $ProtoDropNum) // $ProtoDropDen) AS value
         |FROM rnk r JOIN cnt c ON c.cell = r.cell
         |ORDER BY row_idx""".stripMargin)),

    Query("q_d4_pipeline", (s, dir) => {
      // the diversity op composing INTO the reference op algebra:
      // PrototypeDropOp keep verdicts → MaskRowsOp (positional re-index
      // through the content-addressed store) → per-label survivor counts
      // — the "diversify, then measure what the cut did to the class mix"
      // curation step
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val pd = PrototypeDropOp(SelectVectorColumnOp(ds, "embedding"),
        KmInitIds, KmIters, ProtoDropNum, ProtoDropDen)
      r.toFrame(MaskRowsOp(ds, pd))
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
        .orderBy(col("label"))
    },
      // diversify → mask → class-mix: the drop replay joined back onto the
      // labels, grouped — the per-label survivor counts
      kmeansOracleSql("row_number() OVER () - 1",
      protoDropCtes +
      s"""SELECT e.label AS label, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT label, row_number() OVER () - 1 AS rid
         |      FROM embeddings) e
         |JOIN rnk r ON r.id = e.rid
         |JOIN cnt c ON c.cell = r.cell
         |WHERE r.rnk > (c.cnt * $ProtoDropNum) // $ProtoDropDen
         |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Query("q_distinct_sketch", (s, dir) => {
      // per-language KMV distinct-text estimate at k=80: en (218 distinct
      // at sf0.01) exercises the (k−1)·2⁶⁰/h₍ₖ₎ estimator, the smaller
      // languages the exact below-k path — the oracle replays the sorted
      // distinct 60-bit hash prefix and the HUGEINT floor division
      Profile.distinctEstimate(t(s, dir, "documents"), "lang", "text",
          KmvK)
        .orderBy(col("lang"))
    },
      // KMV replay: distinct 60-bit md5 prefixes per language, kth
      // smallest via row_number, HUGEINT floor division for the estimate
      s"""WITH h AS (
         |  SELECT DISTINCT lang,
         |    CAST('0x'||substr(md5(text),1,15) AS BIGINT) AS h
         |  FROM documents),
         |r AS (
         |  SELECT lang, h,
         |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS cnt
         |  FROM h),
         |g AS (
         |  SELECT lang, CAST(max(cnt) AS BIGINT) AS cnt,
         |    max(CASE WHEN rn = $KmvK THEN h END) AS hk
         |  FROM r GROUP BY lang),
         |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_rows
         |      FROM documents GROUP BY lang)
         |SELECT n.lang, n.n_rows,
         |  CASE WHEN g.cnt < $KmvK THEN g.cnt
         |    ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) *
         |      CAST(${Profile.HashSpace} AS HUGEINT)) // g.hk AS BIGINT)
         |  END AS est_distinct
         |FROM n JOIN g USING (lang) ORDER BY lang""".stripMargin),

    Query("q_corpus_stats", (s, dir) => {
      // one-pass per-source data card over a corpus with PLANTED exact
      // duplicates (copies of doc_id < 200 at +100000): est_distinct_texts
      // < n_docs surfaces the per-source duplication rate a curation run
      // reports before dedup
      val docs = t(s, dir, "documents")
      val planted = docs.select(col("source"), col("text"))
        .union(docs.filter(col("doc_id") < 200)
          .select(col("source"), col("text")))
      Profile.corpusReport(planted, "source", "text")
        .orderBy(col("source"))
    },
      // planted duplicates (doc_id < 200 copied) → per-source distinct <
      // total; every source sits below k=64, so the sketch IS the exact
      // distinct-text count here (the estimator path is q_distinct_sketch)
      s"""WITH u AS (
         |  SELECT source, text FROM documents
         |  UNION ALL
         |  SELECT source, text FROM documents WHERE doc_id < 200),
         |t AS (
         |  SELECT source, text,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS tok
         |  FROM u),
         |agg AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(length(text)) AS BIGINT) AS n_chars
         |  FROM t GROUP BY source),
         |c AS (
         |  SELECT source, CAST(count(DISTINCT md5(text)) AS BIGINT) AS dct
         |  FROM u GROUP BY source)
         |SELECT agg.source, n_docs, n_tokens, n_chars,
         |  c.dct AS est_distinct_texts
         |FROM agg JOIN c USING (source) ORDER BY source""".stripMargin),

    Query("q_stats_graph", (s, dir) => {
      // the data card as a CONTENT-ADDRESSED spec op: per-lang totals +
      // KMV distinct estimate through the runner store — profiled once per
      // corpus hash, ever. Shares q_distinct_sketch's estimator/exact
      // straddle at k=80
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(CorpusStatsOp(SelectCategoricalColumnOp(ds, "lang"),
          SelectTextColumnOp(ds, "text"), k = KmvK.toLong))
        .orderBy(col("group"))
    }, statsCardOracleSql),

    Query("q_top_sources", (s, dir) => {
      // exact top-3 sources per language — the two-phase heavy-hitters
      // rank over the bounded (lang, source) count table
      Profile.topValues(t(s, dir, "documents"), "lang", "source", n = 3)
        .orderBy(col("lang"), col("rank"))
    },
      """WITH c AS (
        |  SELECT lang, source, count(*) AS cnt
        |  FROM documents GROUP BY lang, source),
        |r AS (
        |  SELECT lang, source, CAST(cnt AS BIGINT) AS cnt,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, source) AS BIGINT) AS rank
        |  FROM c)
        |SELECT lang, source, cnt, rank FROM r WHERE rank <= 3
        |ORDER BY lang, rank""".stripMargin),

    Query("q_domain_cap_stream", (s, dir) => {
      // the STREAMING form of the per-source quota: two id-ranged
      // micro-batches flow through the carried per-source count
      // (sourceQuotaToSink, read back without batch ids) —
      // at most 3 docs admitted per source over the stream's life, in
      // (batch, doc_id) order. Because the batches are id-ranged and
      // each batch's group admits id-sorted, global admission order per
      // source IS doc_id order — which is exactly what the oracle's
      // window replays. (The batch q_domain_cap keeps top-N by LENGTH —
      // offline it can; the online form admits first-N, the crawler-
      // frontier semantics. Both gated, each against its own oracle.)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val stream = batchFileStream(s, "dcs",
        docs.filter(col("doc_id") < 500), docs.filter(col("doc_id") >= 500))
      val sink = runSink("dcs")((sink, ckpt) =>
        graft.streaming.Streaming.sourceQuotaToSink(stream, "source",
          "doc_id", maxPerSource = 3, sink, ckpt))
      readSink(s, s"$sink/data")
        .select(col("source"), col("doc_id"), col("n_kept"))
        .orderBy(col("source"), col("n_kept"))
    },
      // online first-N admission: id-ranged batches + id-sorted per-batch
      // admission make the stream's admission order per source equal
      // doc_id order, so a plain window replays it
      """WITH r AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id) AS BIGINT) AS n_kept
        |  FROM documents)
        |SELECT source, doc_id, n_kept FROM r WHERE n_kept <= 3
        |ORDER BY source, n_kept""".stripMargin),

    Query("q_quota_sink", (s, dir) => {
      // round 19: the per-source admission quota as a DURABLE
      // exactly-once sink (sourceQuotaToSink) — the last
      // production-shaped admission operator graduates from the
      // state-store twin to the state-fold sink family (parquet state,
      // GC'd to newest + grace). Two id-ranged micro-batches, at most 3
      // docs per source over the stream's life; batch 1 admits on top
      // of batch 0's CARRIED counts, so the union equals the global
      // doc_id-order first-3 and each verdict's batch_id is determined
      // by its id range. Forced-restart replay pinned in StreamingSpec.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val stream = batchFileStream(s, "qsink",
        docs.filter(col("doc_id") < 500), docs.filter(col("doc_id") >= 500))
      val sink = runSink("qsink")((sink, ckpt) =>
        graft.streaming.Streaming.sourceQuotaToSink(stream, "source",
          "doc_id", maxPerSource = 3, sink, ckpt))
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"), col("source"),
          col("doc_id"), col("n_kept"))
        .orderBy(col("source"), col("n_kept"))
    },
      // durable-sink quota: same admission law (id-ranged batches ⇒ the
      // union is the global doc_id-order first-3 per source), plus each
      // verdict's batch is pinned by its id range
      """WITH r AS (
        |  SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY doc_id) AS BIGINT) AS n_kept
        |  FROM documents)
        |SELECT CAST(CASE WHEN doc_id < 500 THEN 0 ELSE 1 END AS BIGINT)
        |    AS batch_id,
        |  source, doc_id, n_kept FROM r WHERE n_kept <= 3
        |ORDER BY source, n_kept""".stripMargin),

    Query("q_domain_cap", (s, dir) => {
      // per-source document quota — the CommonCrawl-style per-host cap
      // that stops one domain from dominating a training mix: keep at
      // most 5 docs per source, preferring the longest (n_chars desc,
      // doc_id tiebreak). The window carries only NARROW columns (id,
      // source, n_chars) — text never enters the exchange — so at 100 TB
      // the shuffle is O(docs × ~24 bytes) hashed on source, and a
      // skewed mega-source pays only its own partition's sort; callers
      // semi-join the kept ids back against the corpus.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy(col("source"), col("rk"))
    },
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT doc_id, source, n_chars, rk FROM r WHERE rk <= 5
        |ORDER BY source, rk""".stripMargin),

    Query("q_cms", (s, dir) => {
      // Count-Min word-frequency sketch at depth 4 × width 128 over the
      // corpus word stream (thousands of distinct words → every bucket
      // carries collision mass), probed for the exact top-20 words:
      // est_cnt ≥ exact_cnt row by row, min-over-rows replayed by the
      // oracle counter for counter. The sketch shuffle is bounded by
      // depth·width whatever the corpus size — the per-value-count twin
      // of the KMV distinct card.
      val occ = t(s, dir, "documents")
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 0)).as("word"))
      val sk = Profile.cmsSketch(occ, "word", CmsDepth, CmsWidth)
      val top = occ.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word")).limit(20)
      Profile.cmsEstimate(sk, top, "word", CmsDepth, CmsWidth)
        .join(top, "word")
        .select(col("word"), col("exact_cnt"), col("est_cnt"))
        .orderBy(col("exact_cnt").desc, col("word"))
    }, cmsOracleSql),

    Query("q_bloom", (s, dir) => {
      // Bloom membership pre-filter: the doc_id < 2000 snapshot's texts
      // pack into a 16 Kib bitmap that rides probe plans as a LITERAL —
      // the whole corpus then tests k bits per row, map-only, no join
      // with the reference anywhere. Output pins the one-sided contract
      // row for row: bloom_hit true for every member (no false
      // negatives), plus the ~3% deterministic false positives the load
      // factor forces; exact_hit is the gate-only truth column.
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") < 2000).select(col("text"))
      val words = Profile.bloomBitmap(ref, "text", BloomK, BloomM)
      docs.select(col("doc_id"), col("text"))
        .withColumn("bloom_hit",
          Profile.bloomMightContain(words, col("text"), BloomK, BloomM))
        .join(ref.distinct().withColumn("__in", lit(true)),
          Seq("text"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          coalesce(col("__in"), lit(false)).as("exact_hit"))
        .orderBy(col("doc_id"))
    }, bloomOracleSql),

    Query("q_cms_graph", (s, dir) => {
      // the Count-Min card as a CONTENT-ADDRESSED spec op — profiled once
      // per corpus hash; shares q_cms's oracle verbatim (same corpus,
      // same sketch shape, same top-20 probe)
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(CmsWordCountsOp(SelectTextColumnOp(ds, "text"),
          depth = CmsDepth.toLong, width = CmsWidth.toLong, topN = 20L))
        .orderBy(col("exact_cnt").desc, col("word"))
    },
      // the spec twin profiles the same corpus with the same sketch shape
      cmsOracleSql),

    Query("q_bloom_graph", (s, dir) => {
      // Bloom membership as a composable BOOLEAN value column: the
      // reference set is the first-2000-rows slice (TakeRowsOp — the op
      // algebra's own row selection), the verdict column aligns to every
      // corpus row and composes with MaskRowsOp like any other mask
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val text = SelectTextColumnOp(ds, "text")
      val ref = SelectTextColumnOp(
        TakeRowsOp(ds, numRows = Some(2000L)), "text")
      r.toFrame(BloomMembershipOp(text, ref,
          numHashes = BloomK.toLong, numBits = BloomM.toLong))
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value"))
        .orderBy(col("row_idx"))
    },
      // spec twin: verdicts keyed by the runner's positional identity, the
      // reference set = the first-2000-rows slice
      s"""WITH d AS (SELECT text,
         |  CAST(row_number() OVER () AS BIGINT) - 1 AS row_idx
         |  FROM documents),
         |ref AS (SELECT DISTINCT text FROM d WHERE row_idx < 2000),
         |rs AS (SELECT unnest(range($BloomK)) AS i),
         |bits AS (SELECT DISTINCT
         |           CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
         |             AS BIGINT) % $BloomM AS bit
         |         FROM ref, rs),
         |ph AS (SELECT row_idx,
         |         CAST('0x'||substr(md5('bloom'||i||chr(31)||text),1,15)
         |           AS BIGINT) % $BloomM AS bit
         |       FROM d, rs)
         |SELECT row_idx,
         |       COUNT(*) FILTER (WHERE bit IN (SELECT bit FROM bits))
         |         = $BloomK AS value
         |FROM ph GROUP BY row_idx ORDER BY row_idx""".stripMargin),

    Query("q_shard_graph", (s, dir) => {
      // the epoch-shard layout as a spec op over the runner's positional
      // identity: (row_idx, shard, pos) for epoch 3 — content-addressed,
      // so an epoch's layout is computed once per (corpus, epoch) ever
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      r.toFrame(EpochShardOp(ds, epoch = 3L, numShards = 8L))
        .select(col(ColumnOps.RowIdx).as("row_idx"),
          col("shard"), col("pos"))
        .orderBy(col("row_idx"))
    },
      // spec twin: the epoch-3 shard layout over positional row ids
      """WITH d AS (SELECT CAST(row_number() OVER () AS BIGINT) - 1 AS row_idx
        |  FROM documents),
        |h AS (SELECT row_idx,
        |        CAST('0x'||substr(md5('epoch'||chr(31)||3||chr(31)||
        |          CAST(row_idx AS VARCHAR)),1,15) AS BIGINT) AS eh
        |      FROM d)
        |SELECT row_idx, eh % 8 AS shard,
        |       CAST(row_number() OVER (PARTITION BY eh % 8
        |         ORDER BY eh, row_idx) AS BIGINT) - 1 AS pos
        |FROM h ORDER BY row_idx""".stripMargin),

    Query("q_bloom_stream", (s, dir) => {
      // the STREAMING Bloom build under the SAME oracle as q_bloom: the
      // reference snapshot arrives as a stream and each micro-batch ORs
      // its bit positions into the carried bitmap (bit-set union is an
      // OR monoid ⇒ slicing-invariant; multi-batch == batch pinned in
      // StreamingSpec), then the identical corpus probe runs against the
      // streamed filter, read back from the sink's newest state
      val schema = t(s, dir, "documents").schema
      val refStream = s.readStream.schema(schema)
        .parquet(s"$dir/documents.parque[t]")
        .filter(col("doc_id") < 2000).select(col("text"))
      val sink = runSink("blstream")((sink, ckpt) =>
        graft.streaming.Streaming.bloomBitmapToSink(refStream, "text",
          BloomK, BloomM, sink, ckpt))
      // numBits/64 words: the bitmap rides the probe plan as a literal
      val words = readSink(s, s"$sink/_state", newestOnly = true)
        .select(col("idx"), col("word")).orderBy(col("idx"))
        .collect().map(_.getLong(1))
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") < 2000).select(col("text"))
      docs.select(col("doc_id"), col("text"))
        .withColumn("bloom_hit",
          Profile.bloomMightContain(words, col("text"), BloomK, BloomM))
        .join(ref.distinct().withColumn("__in", lit(true)),
          Seq("text"), "left")
        .select(col("doc_id"), col("bloom_hit"),
          coalesce(col("__in"), lit(false)).as("exact_hit"))
        .orderBy(col("doc_id"))
    },
      // the streamed bitmap is the SAME bit set (OR monoid ⇒
      // slicing-invariant), so the twin shares the batch oracle verbatim
      bloomOracleSql),

    Query("q_cms_stream", (s, dir) => {
      // the STREAMING Count-Min sketch under the SAME oracle as q_cms:
      // the word stream folds into the carried counter matrix per
      // micro-batch (sum monoid ⇒ slicing-invariant; multi-batch == batch
      // pinned in StreamingSpec), then the identical top-20 probe runs
      // against the streamed counters, read back from the sink's newest
      // state
      val schema = t(s, dir, "documents").schema
      val words = s.readStream.schema(schema)
        .parquet(s"$dir/documents.parque[t]")
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 0)).as("word"))
      val sink = runSink("cmsstream")((sink, ckpt) =>
        graft.streaming.Streaming.cmsSketchToSink(words, "word",
          CmsDepth, CmsWidth, sink, ckpt))
      val sk = readSink(s, s"$sink/_state", newestOnly = true)
        .select(col("row").cast("int").as("row"),
          col("bucket").cast("long").as("bucket"),
          col("cnt").cast("long").as("cnt"))
      val occ = t(s, dir, "documents")
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 0)).as("word"))
      val top = occ.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word")).limit(20)
      Profile.cmsEstimate(sk, top, "word", CmsDepth, CmsWidth)
        .join(top, "word")
        .select(col("word"), col("exact_cnt"), col("est_cnt"))
        .orderBy(col("exact_cnt").desc, col("word"))
    },
      // the streaming sketch is the SAME counter matrix (sum monoid ⇒
      // slicing-invariant), so the twin shares the batch oracle verbatim
      cmsOracleSql),

    Query("q_len_quantiles", (s, dir) => {
      // exact per-language token-length quantiles (the data card's p50/p90
      // rows): rank ⌈q·n⌉ picks over the (lang, length) count table — the
      // oracle replays the cumulative walk and every pick
      Profile.lengthQuantiles(t(s, dir, "documents"), "lang", "text",
          Seq(0.5, 0.9, 0.99))
        .orderBy(col("lang"))
    },
      """WITH l AS (
        |  SELECT lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS len
        |  FROM documents),
        |c AS (SELECT lang, len, count(*) AS c FROM l GROUP BY lang, len),
        |cum AS (
        |  SELECT lang, len,
        |    SUM(c) OVER (PARTITION BY lang ORDER BY len) AS cum
        |  FROM c),
        |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |      FROM l GROUP BY lang)
        |SELECT lang, n_docs,
        |  min(CASE WHEN cum >= ceil(0.5 * n_docs) THEN len END) AS p50,
        |  min(CASE WHEN cum >= ceil(0.9 * n_docs) THEN len END) AS p90,
        |  min(CASE WHEN cum >= ceil(0.99 * n_docs) THEN len END) AS p99
        |FROM cum JOIN t USING (lang)
        |GROUP BY lang, n_docs ORDER BY lang""".stripMargin),

    Query("q_stats_stream", (s, dir) => {
      // the STREAMING data card under the SAME oracle as q_stats_graph:
      // single-file fixture → one micro-batch, the sink's newest card read
      // back; the adversarial-slicing monoid equality is pinned in
      // StreamingSpec
      val schema = t(s, dir, "documents").schema
      val stream = s.readStream.schema(schema)
        .parquet(s"$dir/documents.parque[t]")
      val sink = runSink("statsstream")((sink, ckpt) =>
        graft.streaming.Streaming.corpusReportToSink(stream, "lang", "text",
          KmvK, sink, ckpt))
      readSink(s, s"$sink/card", newestOnly = true)
        .withColumnRenamed("lang", "group")
        .orderBy(col("group"))
    },
      // the STREAMING data card folds per-batch monoid state (sums add,
      // sketches merge), so any slicing yields the identical card — the
      // single-file gate shares the replay verbatim; adversarial multi-batch
      // equality is pinned in StreamingSpec
      statsCardOracleSql),

    Query("q_doremi", (s, dir) => {
      // DoReMi-shape domain-mixture reweighting (ext.Mixing, Xie 2023):
      // domain = language; proxy/reference losses here are cheap
      // deterministic μ-nat stand-ins (chars·1000 vs tokens·4000 — the
      // per-language chars-per-token ratio makes the excess genuinely
      // differ across domains); production feeds LangModel.score /
      // LLM-logit losses through the same operator. 3 linearized
      // multiplicative-weights rounds, every iteration replayed as
      // HUGEINT // chains in the oracle.
      val d = t(s, dir, "documents")
        .withColumn("__proxy", (col("n_chars") * lit(1000L)).cast("long"))
        .withColumn("__ref",
          TextAnalysis.tokenCount(col("text")).cast("long") * lit(4000L))
      graft.ext.Mixing.domainWeights(d, "lang", "__proxy", "__ref",
          rounds = 3, etaU6 = 100000L, smoothU6 = 100000L)
        .orderBy(col("domain"))
    }, {
      // DoReMi mixture replay: per-domain integer mean-excess aggregation,
      // then every multiplicative-weights round unrolled as a HUGEINT CTE
      // (u = w·(1e6 + (η·excess)//1e6), normalize by the exact integer Σu,
      // re-add the uniform smoothing floor) — the PageRank // discipline
      val (eta, smooth, rounds) = (100000L, 100000L, 3)
      val base =
        s"""WITH ex AS (
           |  SELECT domain, n_docs, GREATEST(CAST(0 AS BIGINT),
           |      sp // n_docs - sr // n_docs) AS excess_u6
           |  FROM (SELECT lang AS domain, COUNT(*) AS n_docs,
           |    SUM(CAST(n_chars AS BIGINT) * 1000) AS sp,
           |    SUM(CAST(tok AS BIGINT) * 4000) AS sr
           |    FROM (SELECT lang, n_chars,
           |      CASE WHEN length(trim(text)) = 0 THEN 0
           |        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS tok
           |      FROM documents) GROUP BY 1)),
           |r0 AS (SELECT domain, n_docs, excess_u6,
           |  CAST(1000000 // (SELECT COUNT(*) FROM ex) AS HUGEINT) AS w
           |  FROM ex)""".stripMargin
      val rs = (1 to rounds).map { i =>
        s"""r$i AS (SELECT domain, n_docs, excess_u6,
           |  (CAST(${1000000L - smooth} AS HUGEINT) * u) // (SELECT SUM(u)
           |    FROM (SELECT w * (1000000 + ($eta * excess_u6) // 1000000)
           |          AS u FROM r${i - 1}))
           |  + $smooth // (SELECT COUNT(*) FROM ex) AS w
           |  FROM (SELECT domain, n_docs, excess_u6,
           |    w * (1000000 + ($eta * excess_u6) // 1000000) AS u
           |    FROM r${i - 1}))""".stripMargin
      }
      (base +: rs).mkString(",\n") +
        s"""
           |SELECT domain, n_docs, CAST(excess_u6 AS BIGINT) AS excess_u6,
           |  CAST(w AS BIGINT) AS weight_u6
           |FROM r$rounds ORDER BY domain""".stripMargin
    }),

    Query("q_token_budget", (s, dir) => {
      // per-language token-budget fill (the pretraining-mix cut): rank by
      // n_chars DESC (longest-doc priority, deterministic doc_id
      // tie-break), keep while the language's cumulative whitespace-token
      // count stays ≤ the budget — cum replayed exactly by a window SUM
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"),
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      graft.ext.Corpus.tokenBudgetSelect(docs, "lang", "doc_id",
          "n_chars", "n_tokens", TbBudget)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens").cast("long").as("cum_tokens"))
        .orderBy(col("doc_id"))
    }, tokenBudgetOracleSql),

    Query("q_tb_graph", (s, dir) => {
      // spec-layer twin: TokenBudgetKeepOp through the content-addressed
      // runner — keep verdicts for EVERY row (compose with MaskRowsOp to
      // realize the cut), the three inputs as typed column ops
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/documents.parquet")
      val keep = TokenBudgetKeepOp(
        SelectCategoricalColumnOp(ds, "lang"),
        SelectScoreColumnOp(ds, "n_chars"),
        TokenCountOp(SelectTextColumnOp(ds, "text")),
        TbBudget)
      r.toFrame(keep)
        .select(col(ColumnOps.RowIdx).as("row_idx"), col("value"))
        .orderBy(col("row_idx"))
    },
      s"""WITH t AS (
         |  SELECT row_number() OVER () - 1 AS row_idx, lang, n_chars,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT row_idx,
         |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, row_idx
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT row_idx, cum <= $TbBudget AS value FROM c ORDER BY row_idx""".stripMargin),

    Query("q_tb_stream", (s, dir) => {
      // the STREAMING token-budget twin under the SAME oracle as
      // q_token_budget: the single-file fixture arrives as one batch (the
      // equality-contract trivial case; the carried-fill multi-batch case
      // is pinned in StreamingSpec), verdicts read back from the sink and
      // realized as the kept cut
      val schema = t(s, dir, "documents").schema
      val stream = s.readStream.schema(schema)
        .parquet(s"$dir/documents.parque[t]")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tokens"))
      val sink = runSink("tbstream")((sink, ckpt) =>
        graft.streaming.Streaming.tokenBudgetToSink(stream, "lang", "doc_id",
          "n_chars", "n_tokens", TbBudget, sink, ckpt))
      readSink(s, s"$sink/data")
        .filter(col("keep"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens").cast("long").as("cum_tokens"))
        .orderBy(col("doc_id"))
    },
      // the STREAMING twin computes the identical kept cut (single-file
      // fixture → one micro-batch; carried-fill multi-batch equality pinned
      // in StreamingSpec), so it shares the replay verbatim
      tokenBudgetOracleSql),

    Query("q_group_split", (s, dir) => {
      // round 18: GROUP-AWARE train/test split (Corpus.groupAwareSplit) —
      // whole sources to one side, the leakage-safe split web corpora
      // need (a row split lets near-dups from one site straddle the
      // boundary). In-query hard gates: no source straddles, and the
      // test-group count is exactly ceil(G/3); the oracle replays the
      // md5 group ranking and the verdict join row-for-row.
      val docs = t(s, dir, "documents")
      val out = graft.ext.Corpus.groupAwareSplit(docs, "source", 1L, 3L)
        .select(col("doc_id"), col("source"), col("is_test"))
      val sides = out.groupBy(col("source"))
        .agg(countDistinct(col("is_test")).as("k"))
        .agg(max(col("k"))).head().getLong(0)
      require(sides == 1L, "a source straddles the split boundary")
      val g = out.select(col("source"), col("is_test")).distinct()
        .agg(count(lit(1)), count(when(col("is_test"), 1))).head()
      require(g.getLong(1) == (g.getLong(0) + 2) / 3,
        s"test groups ${g.getLong(1)} != ceil(${g.getLong(0)}/3)")
      out.orderBy(col("doc_id"))
    },
      """WITH g AS (SELECT DISTINCT source FROM documents),
        |h AS (SELECT source,
        |        CAST('0x' || substr(md5('gsplit' || chr(31) || '19190115'
        |          || chr(31) || source), 1, 15) AS BIGINT) AS hh
        |      FROM g),
        |r AS (SELECT source,
        |        row_number() OVER (ORDER BY hh, source) - 1 AS rk FROM h),
        |n AS (SELECT count(*) AS ng FROM g)
        |SELECT d.doc_id, d.source, (r.rk * 3 < 1 * n.ng) AS is_test
        |FROM documents d JOIN r USING (source) CROSS JOIN n
        |ORDER BY d.doc_id""".stripMargin),

    Query("q_len_batches", (s, dir) => {
      // round 18: LENGTH-BUCKETED BATCH ASSEMBLY (Corpus.
      // lengthBucketBatches) — the padding-efficiency layout trainers use
      // (fairseq/t2t-style dynamic bucketing): similar lengths batch
      // together, each batch pads to its own max. Per-doc layout
      // hash-oracled; the in-query gate asserts the op's ACTUAL
      // invariant: every batch's members share one length bucket, so a
      // doc's pad is bounded by bucketWidth−1. (Comparing against
      // doc_id-arrival batching is NOT an invariant — bucket boundaries
      // can pair distant lengths while arrival order happens to pair
      // near ones — and its control needed a single-partition window.)
      val docs = t(s, dir, "documents")
      val nTok = size(filter(split(trim(col("text")), "\\s+"),
        w => length(w) > 0))
      val out = graft.ext.Corpus.lengthBucketBatches(
        docs, "doc_id", nTok, bucketWidth = 16L, batchSize = 8)
      val maxPad = out.agg(max(col("pad"))).head().getLong(0)
      require(maxPad < 16L,
        s"pad $maxPad breaches the bucket-width bound: batch members " +
          "must share a 16-token length bucket")
      out.orderBy(col("doc_id"))
    },
      """WITH w AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    regexp_split_to_array(trim(text), '\s+'),
        |    x -> length(x) > 0)) AS BIGINT) AS n_tokens FROM documents),
        |b AS (SELECT doc_id, n_tokens, n_tokens // 16 AS bucket FROM w),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY bucket ORDER BY n_tokens, doc_id) - 1 AS rk
        |      FROM b),
        |x AS (SELECT doc_id, n_tokens, bucket,
        |        rk // 8 AS batch_idx, rk % 8 AS pos_in_batch FROM r),
        |m AS (SELECT bucket, batch_idx, MAX(n_tokens) AS batch_max
        |      FROM x GROUP BY 1, 2)
        |SELECT x.doc_id, x.n_tokens, CAST(x.bucket AS BIGINT) AS bucket,
        |  CAST(x.batch_idx AS BIGINT) AS batch_idx,
        |  CAST(x.pos_in_batch AS BIGINT) AS pos_in_batch,
        |  m.batch_max, m.batch_max - x.n_tokens AS pad
        |FROM x JOIN m USING (bucket, batch_idx)
        |ORDER BY doc_id""".stripMargin),

    Query("q_lm_sink", (s, dir) => {
      // round 18: the ONLINE perplexity filter as a durable exactly-once
      // sink (lmScoreToSink): two micro-batches (even doc_ids, then odd).
      // Batch 0 bootstraps by self-fit (== the batch operator on the even
      // docs); batch 1 is scored by the STANDING even-docs model — odd
      // docs hit the backoff and OOV arms against a model they never fit,
      // the true online-curation semantics. Verdicts are read back from
      // the sink per batch; forced-restart replay pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val stream = batchFileStream(s, "lmsink",
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0))
        .select(col("doc_id"), col("text"))
      val sink = runSink("lmsink")((sink, ckpt) =>
        graft.streaming.Streaming.lmScoreToSink(stream, "doc_id", "text",
          sink, ckpt))
      Seq(0, 1).map { b =>
        s.read.parquet(s"$sink/data/batch_id=$b")
          .select(lit(b.toLong).as("batch_id"), col("doc_id"),
            col("n_tokens"), col("logp_u6"), col("ppl"))
      }.reduce(_ unionByName _).orderBy(col("batch_id"), col("doc_id"))
    }, {
      // durable online-LM sink: both legs fit on the EVEN docs (batch 0's
      // self-fit == the standing model batch 1 scores against), each leg
      // restricted to its batch's documents
      def leg(b: Int, where: String) =
        "(" + lmPerplexitySqlCtesWith("SELECT * FROM p WHERE doc_id % 2 = 0") +
          s"""SELECT CAST($b AS BIGINT) AS batch_id, docs.doc_id,
             |  coalesce(d.n_tokens, 0) AS n_tokens,
             |  coalesce(d.logp_u6, 0) AS logp_u6,
             |  $lmPplExprSql AS ppl
             |FROM (SELECT doc_id FROM documents WHERE $where) docs
             |LEFT JOIN d USING (doc_id))""".stripMargin
      s"""SELECT * FROM (
         |${leg(0, "doc_id % 2 = 0")}
         |UNION ALL
         |${leg(1, "doc_id % 2 = 1")})
         |ORDER BY batch_id, doc_id""".stripMargin
    }),

    Query("q_cms_sink", (s, dir) => {
      // DURABLE Count-Min sketch (cmsSketchToSink): the word stream of
      // two micro-batches (even doc_ids, then odd) folds into a persisted
      // counter matrix; the RUNNING sketch after each batch is read back
      // from the sink and probed for the corpus-wide top-20 — batch 0's
      // estimates replay against the even-docs prefix sketch, batch 1's
      // against everything (the sum monoid makes it equal the batch
      // operator). Exactly-once restart pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val stream = batchFileStream(s, "cmssink",
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 =!= 0))
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          w => length(w) > 0)).as("word"))
      val sink = runSink("cmssink")((sink, ckpt) =>
        graft.streaming.Streaming.cmsSketchToSink(stream, "word",
          CmsDepth, CmsWidth, sink, ckpt))
      val occ = docs.select(explode(filter(split(trim(col("text")), "\\s+"),
        w => length(w) > 0)).as("word"))
      val top = occ.groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("word")).limit(20)
      Seq(0, 1).map { b =>
        val sk = s.read.parquet(s"$sink/_state/batch_id=$b")
          .select(col("row").cast("int").as("row"),
            col("bucket").cast("long").as("bucket"),
            col("cnt").cast("long").as("cnt"))
        Profile.cmsEstimate(sk, top, "word", CmsDepth, CmsWidth)
          .join(top, "word")
          .select(lit(b.toLong).as("batch_id"), col("word"),
            col("exact_cnt"), col("est_cnt"))
      }.reduce(_ unionByName _)
        .orderBy(col("batch_id"), col("exact_cnt").desc, col("word"))
    },
      // sketch sinks: each batch prefix's persisted counter matrix / bitmap
      // probed against the corpus
      cmsSinkOracleSql),

    Query("q_bloom_sink", (s, dir) => {
      // DURABLE Bloom filter (bloomBitmapToSink): the reference snapshot
      // streams in two batches (even doc_ids, then odd); the RUNNING
      // bitmap after each batch probes the whole corpus — batch 0's
      // verdicts replay against the even-refs prefix filter (exact_hit =
      // prefix membership, so one-sidedness is pinned per prefix),
      // batch 1's equal the batch build (OR monoid). Exactly-once
      // restart pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val ref = docs.filter(col("doc_id") < 2000)
        .select(col("doc_id"), col("text"))
      val stream = batchFileStream(s, "blsink",
          ref.filter(col("doc_id") % 2 === 0),
          ref.filter(col("doc_id") % 2 =!= 0))
        .select(col("text"))
      val sink = runSink("blsink")((sink, ckpt) =>
        graft.streaming.Streaming.bloomBitmapToSink(stream, "text",
          BloomK, BloomM, sink, ckpt))
      Seq(0, 1).map { b =>
        val words = s.read.parquet(s"$sink/_state/batch_id=$b")
          .select(col("idx"), col("word")).orderBy(col("idx"))
          .collect().map(_.getLong(1))
        val prefRef =
          if (b == 0) ref.filter(col("doc_id") % 2 === 0).select(col("text"))
          else ref.select(col("text"))
        docs.select(col("doc_id"), col("text"))
          .withColumn("bloom_hit",
            Profile.bloomMightContain(words, col("text"), BloomK, BloomM))
          .join(prefRef.distinct().withColumn("__in", lit(true)),
            Seq("text"), "left")
          .select(lit(b.toLong).as("batch_id"), col("doc_id"),
            col("bloom_hit"), coalesce(col("__in"), lit(false)).as("exact_hit"))
      }.reduce(_ unionByName _)
        .orderBy(col("batch_id"), col("doc_id"))
    }, bloomSinkOracleSql),

    Query("q_card_sink", (s, dir) => {
      // DURABLE data card (corpusReportToSink): two documents
      // micro-batches (even doc_ids, then odd) fold into a persisted
      // per-group state; the RUNNING card after each batch is read back
      // from the sink and must equal the batch corpusReport over exactly
      // the prefix that batch saw — the oracle replays both prefixes.
      // Exactly-once across restarts is pinned in StreamingSpec.
      val docs = t(s, dir, "documents")
      val stream = batchFileStream(s, "cardsink",
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
      val sink = runSink("cardsink")((sink, ckpt) =>
        graft.streaming.Streaming.corpusReportToSink(stream, "lang", "text",
          KmvK, sink, ckpt))
      Seq(0, 1).map(b => s.read.parquet(s"$sink/card/batch_id=$b")
          .select(lit(b.toLong).as("batch_id"), col("lang"),
            col("n_docs"), col("n_tokens"), col("n_chars"),
            col("est_distinct_texts")))
        .reduce(_ unionByName _)
        .orderBy(col("batch_id"), col("lang"))
    },
      // durable-sink twins: running card per batch prefix; admission ledger
      // as one (batch, priority, id)-keyed window cumsum
      cardSinkOracleSql),

    Query("q_tb_sink", (s, dir) => {
      // DURABLE token-budget admission ledger (tokenBudgetToSink): two
      // batches (even doc_ids, then odd) cumsum on top of the persisted
      // per-language fill; because batch 0's WHOLE fill precedes batch 1,
      // the entire ledger replays as ONE window cumsum keyed
      // (batch, priority DESC, id) in the oracle. Verdicts for EVERY row
      // (keep realized as a column), exactly-once pinned in StreamingSpec.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"),
        graft.ext.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      val stream = batchFileStream(s, "tbsink",
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0))
      val sink = runSink("tbsink")((sink, ckpt) =>
        graft.streaming.Streaming.tokenBudgetToSink(stream, "lang", "doc_id",
          "n_chars", "n_tokens", TbBudget, sink, ckpt))
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"), col("doc_id"),
          col("lang"), col("n_tokens"),
          col("cum_tokens").cast("long").as("cum_tokens"), col("keep"))
        .orderBy(col("doc_id"))
    }, tbSinkOracleSql),

    Query("q_km_stream", (s, dir) => {
      // the STREAMING k-means twin under the SAME oracle as q_kmeans:
      // the exact model is fitted once on the static corpus
      // (fit-batch/serve-stream), then the availableNow stream re-scores
      // every row through the stateless map-only scorer into the sink
      val static = t(s, dir, "embeddings")
      val fit = graft.ml.ExactKMeans.fit(static, "vec_id", "embedding",
        KmInitIds, KmIters)
      val schema = static.schema
      val stream = s.readStream.schema(schema)
        .parquet(s"$dir/embeddings.parque[t]")
        .select(col("vec_id").cast("long").as("vid"), col("embedding"))
      val sink = runSink("kmstream")((sink, ckpt) =>
        graft.streaming.Streaming.kmeansAssignToSink(stream, "vid",
          "embedding", fit, sink, ckpt))
      readSink(s, s"$sink/data")
        .orderBy(col("id"))
    },
      // identical assignment contract through the STREAMING path
      kmeansOracleSql("CAST(vec_id AS BIGINT)",
      s"SELECT id, CAST(cell AS INTEGER) AS cell, score FROM a${KmIters + 1} ORDER BY id")),

    Query("q_km_sink", (s, dir) => {
      // round 20: q_km_stream's DURABLE graduation — the centroid set
      // (the serving model) is PINNED at sink/_model before the stream
      // starts, per-batch assignments land exactly-once at
      // sink/data/batch_id=B. Two id-ordered batches; the model readback
      // must equal the fit (the artifact gate), and the assignment
      // ledger replays under the same unrolled-Lloyd oracle as q_kmeans
      // with batch_id derived from the id split.
      val static = t(s, dir, "embeddings")
      val fit = graft.ml.ExactKMeans.fit(static, "vec_id", "embedding",
        KmInitIds, KmIters)
      val emb = static
        .select(col("vec_id").cast("long").as("vid"), col("embedding"))
      val stream = batchFileStream(s, "kmsink",
        emb.filter(col("vid") < 30), emb.filter(col("vid") >= 30))
      val sink = runSink("kmsink")((sink, ckpt) =>
        graft.streaming.Streaming.kmeansAssignToSink(stream, "vid",
          "embedding", fit, sink, ckpt))
      // artifact gate: the pinned model must read back as the fit
      val model = s.read.parquet(s"$sink/_model")
        .select(col("cell"), col("dim"), col("qm")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      val expect = fit.qm.zipWithIndex.flatMap { case (row, cell) =>
        row.zipWithIndex.map { case (q, d) => (cell, d, q) }
      }.toSet
      require(model == expect, "pinned model diverged from the fit")
      s.read.parquet(s"$sink/data")
        .select(col("batch_id").cast("long").as("batch_id"), col("id"),
          col("cell"), col("score"))
        .orderBy(col("id"))
    },
      // q_km_sink: the same unrolled-Lloyd replay; batch_id = the id split
      // the gate streams (assignment is row-local, so sink rows == batch
      // operator rows under any slicing)
      kmeansOracleSql("CAST(vec_id AS BIGINT)",
      s"""SELECT CASE WHEN id < 30 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(1 AS BIGINT) END AS batch_id,
         |  id, CAST(cell AS INTEGER) AS cell, score
         |FROM a${KmIters + 1} ORDER BY id""".stripMargin)),

    Query("q_sp_graph", (s, dir) => {
      // spec-layer twin of q_spectral: SpectralVizOp through the
      // content-addressed runner — ids are row indices, the [e1,e2] value
      // column exploded back to scalars for the hash gate
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      // k/iters pinned to the SHARED constants the oracle reads — the op
      // defaults alone cannot drift the gate
      val viz = SpectralVizOp(SelectVectorColumnOp(
        TakeRowsOp(ds, numRows = Some(SpectralCap)), "embedding"),
        k = graft.ml.Spectral.DefaultK.toLong,
        iters = graft.ml.Spectral.DefaultIters.toLong)
      r.toFrame(viz)
        .select(col(ColumnOps.RowIdx).as("row_idx"),
          element_at(col("value"), 1).as("e1"),
          element_at(col("value"), 2).as("e2"))
        .orderBy(col("row_idx"))
    }, spectralOracleSql("row_number() OVER () - 1", "row_idx")),

    Query("q_umap_graph", (s, dir) => {
      // spec-layer twin of q_umap_layout: UmapLayoutOp through the
      // content-addressed runner — ids are row indices; same shared gate
      // constants as the direct query so the oracle cannot drift
      val r = runnerFor(s)
      val ds = r.fromParquet(s"$dir/embeddings.parquet")
      val viz = UmapLayoutOp(SelectVectorColumnOp(
        TakeRowsOp(ds, numRows = Some(SpectralCap)), "embedding"),
        k = graft.ml.Spectral.DefaultK.toLong,
        iters = UmapGateIters.toLong, negatives = UmapGateNegs.toLong,
        init = "random")
      r.toFrame(viz)
        .select(col(ColumnOps.RowIdx).as("row_idx"),
          element_at(col("value"), 1).as("e1"),
          element_at(col("value"), 2).as("e2"))
        .orderBy(col("row_idx"))
    }, umapOracleSql("row_number() OVER () - 1", "row_idx"))
  )
}
