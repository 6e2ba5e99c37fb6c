package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Corpus, Dedup, Similarity}
import graft.catalog.Shared._

/** Dedup extensions: exact, MinHash, SimHash, n-gram, cosine and semantic
  * dedup, the duplicate-graph rankings (connected components, PageRank,
  * HITS, keep-best) and incremental dedup against an on-disk index. */
object DedupQueries {

  /** The chained unigram-Jaccard near-dup pairs (doc i ~ i+1 ~ i+2 at
    * θ=0.9 without i ~ i+2) shared by the CC / PageRank / keep-best
    * gates — mirrors [[jaccardPairCtes]]. */
  private def chainedPairs(docs: DataFrame): DataFrame = {
    val cands = docs.select(col("doc_id").as("id_a"))
      .join(docs.select(col("doc_id").as("id_b")),
        col("id_b") > col("id_a") && col("id_b") <= col("id_a") + 5)
    Dedup.jaccardVerify(docs, "text", "doc_id", cands,
      shingleN = 1, threshold = 0.9)
  }

  /** On-disk MinHash index over the OLD corpus (doc_id < 1000), built once
    * per (JVM, sf dir) — q_dedup_incr probes new batches against it. */
  private def minhashIndexFor(s: SparkSession, dir: String): String =
    fixture("minhash-index", dir) { d =>
      val path = java.nio.file.Files.createTempDirectory("graft-mh-index-").toString
      Dedup.buildMinhashIndex(s, path,
        t(s, d, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") < 1000),
        "text", "doc_id")
      path
    }

  /** The q_dedup_incr planted batch as a parquet directory (one file ⇒ one
    * micro-batch for the streaming ingest twin), written once per
    * (JVM, sf dir). */
  private def incrBatchFixtureFor(s: SparkSession, dir: String): String =
    fixture("incr-batch", dir) { d =>
      val path = java.nio.file.Files
        .createTempDirectory("graft-incr-batch-").toString + "/batch"
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      docs.filter(col("doc_id") < 200)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
        .coalesce(1).write.mode("overwrite").parquet(path)
      path
    }

  /** DuckDB list of the UTF-16 CODE UNITS of word `w` (as HUGEINTs). The
    * engine's word hash (`Dedup.hash64`) iterates `s.charAt(i)` — UTF-16
    * units — while DuckDB's `unicode(substr(...))` yields CODE POINTS; the
    * two coincide only on BMP text, so an astral-plane character (emoji)
    * must expand to its surrogate pair here or the replayed word hashes
    * silently diverge from the engine's. cp >= 0x10000 splits by the
    * standard arithmetic: high = 0xD800 + (cp-0x10000)/1024, low = 0xDC00 +
    * (cp-0x10000)%1024. (Expansion formula pinned against hash64 on astral
    * input in DedupSpec; the driver's fixture text is BMP-only, where the
    * CASE's THEN branch reproduces the previous code-point behavior.) */
  private def utf16UnitsSql(w: String): String = {
    val cp = s"unicode(substr($w, CAST(k AS INT)+1, 1))"
    s"flatten(list_transform(range(length($w)), k -> " +
      s"CASE WHEN $cp < 65536 THEN [CAST($cp AS HUGEINT)] " +
      s"ELSE [CAST(55296 + ($cp - 65536) // 1024 AS HUGEINT), " +
      s"CAST(56320 + ($cp - 65536) % 1024 AS HUGEINT)] END))"
  }

  /** Shared replay of q_dedup_incr AND its streaming ingest twin
    * q_incr_stream: exact all-pairs Jaccard over old ∪ batch, restricted
    * to pairs touching the batch (new ids ≥ 100000 sort above every old
    * id, so id_b ≥ 100000 ⟺ ≥ 1 new side) — the incremental path must
    * emit exactly what the batch-over-everything operator would. */
  private lazy val incrDedupOracleSql: String =
    """WITH u AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 1000
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 200
      |  UNION ALL
      |  SELECT doc_id + 200000, text FROM documents WHERE doc_id < 50),
      |sh AS (
      |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
      |    SELECT doc_id,
      |    CASE WHEN len(words) >= 3 THEN
      |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
      |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
      |    ELSE [] END AS ngrams
      |    FROM (SELECT doc_id,
      |      list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), w -> length(w) > 0) AS words
      |      FROM u))),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0 THEN
      |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh)))
      |    ELSE 0.0 END AS jaccard
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
      |SELECT id_a, id_b, jaccard FROM p
      |WHERE jaccard >= 0.9 AND id_b >= 100000
      |ORDER BY id_a, id_b""".stripMargin

  /** Chained unigram-Jaccard pairs over doc_id < 200 (the q_dedup_clusters
    * graph) as CTEs `d`/`sh`/`e`/`und` — shared by the CC closure and the
    * PageRank oracles so the pair derivation can never drift. */
  private val jaccardPairCtes: String =
    """d AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 200),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_filter(
      |    regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
      |    w -> length(w) > 0)) AS sh FROM d),
      |e AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b
      |    ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 5
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |    / nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0) >= 0.9),
      |und AS (SELECT id_a AS u, id_b AS v FROM e
      |        UNION ALL SELECT id_b, id_a FROM e)""".stripMargin

  /** Transitive closure of the chained unigram-Jaccard window pairs shared
    * by q_dedup_clusters / q_dedup_best: reach(id, lbl) saturates "lbl can
    * reach id" via a recursive CTE — an independent closure construction
    * from the Spark side's large-star/small-star contraction. */
  private val ccClosureCtes: String =
    s"""WITH RECURSIVE $jaccardPairCtes,
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM d
      |  UNION
      |  SELECT und.v, reach.lbl FROM reach JOIN und ON und.u = reach.id)""".stripMargin

  /** q_pagerank iteration count (shared engine/oracle). */
  private val PrIters: Int = 8

  /** q_hits iteration count (shared engine/oracle). */
  private val HitsIters: Int = 6

  /** Unrolled quantized-exact HITS CTEs over the DIRECTED `e(id_a,
    * id_b)` pairs ([[graft.ext.Hits.scores]]): per iteration an
    * authority sum + max-normalization, then a hub sum +
    * max-normalization — all `//` integer arithmetic, every CTE
    * MATERIALIZED (each is referenced twice: by its scalar max subquery
    * and the next step). */
  private def hitsCtes: String = {
    val iters = (1 to HitsIters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.id_b AS id, SUM(h.h_u6) AS s
         |  FROM de e JOIN hh${i - 1} h ON h.id = e.id_a GROUP BY 1),
         |aa$i AS MATERIALIZED (
         |  SELECT n.id, CAST((coalesce(r.s, 0) * 1000000)
         |    // (SELECT MAX(s) FROM ar$i) AS BIGINT) AS a_u6
         |  FROM hnodes n LEFT JOIN ar$i r USING (id)),
         |hr$i AS MATERIALIZED (
         |  SELECT e.id_a AS id, SUM(a.a_u6) AS s
         |  FROM de e JOIN aa$i a ON a.id = e.id_b GROUP BY 1),
         |hh$i AS MATERIALIZED (
         |  SELECT n.id, CAST((coalesce(r.s, 0) * 1000000)
         |    // (SELECT MAX(s) FROM hr$i) AS BIGINT) AS h_u6
         |  FROM hnodes n LEFT JOIN hr$i r USING (id))""".stripMargin
    }.mkString(",\n")
    s"""de AS (SELECT id_a, id_b FROM e),
       |hnodes AS (SELECT DISTINCT id FROM
       |  (SELECT id_a AS id FROM de UNION ALL SELECT id_b FROM de)),
       |hh0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h_u6 FROM hnodes),
       |$iters""".stripMargin
  }

  /** Unrolled quantized-exact PageRank CTEs over the `und` edges
    * ([[graft.ext.PageRank.ranks]]): `pnodes`/`pdeg`, `p0` = Quant
    * per node (the per-NODE quantum — n never appears in the update),
    * each `p{i}` one floor-division step — ending at `p$PrIters`.
    * `seedPred` (a predicate over the given node-id expression) selects
    * the PERSONALIZED form ([[graft.ext.PageRank.personalizedRanks]]):
    * init and teleport base go only to seed nodes. */
  private def pageRankCtes(seedPred: String => String = _ => "TRUE")
      : String = {
    val iters = (1 to PrIters).map { i =>
      s"""p$i AS (
         |  SELECT nn.id,
         |    CAST(CASE WHEN ${seedPred("nn.id")}
         |      THEN (15 * 1000000) // 100 ELSE 0 END AS BIGINT)
         |    + CAST((85 * coalesce(s$i.s, 0)) // 100 AS BIGINT) AS pr_u6
         |  FROM pnodes nn LEFT JOIN (
         |    SELECT e.v AS id, SUM(p.pr_u6 // d.dg) AS s
         |    FROM und e JOIN p${i - 1} p ON p.id = e.u
         |      JOIN pdeg d ON d.id = e.u
         |    GROUP BY 1) s$i ON s$i.id = nn.id)""".stripMargin
    }.mkString(",\n")
    s"""pnodes AS (SELECT DISTINCT u AS id FROM und),
       |pdeg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS dg
       |  FROM und GROUP BY 1),
       |p0 AS (SELECT id, CAST(CASE WHEN ${seedPred("id")}
       |  THEN 1000000 ELSE 0 END AS BIGINT) AS pr_u6 FROM pnodes),
       |$iters""".stripMargin
  }

  /** Full DuckDB replay of the q_dedup_minhash pipeline — the same
    * falsifiability standard as q_ann_ivf_pruned's IVF replay, applied to
    * the 64-perm MinHash + 16-band LSH + exact-Jaccard verify chain. All
    * mod-2⁶⁴ arithmetic (word FNV+avalanche hashes, gram folds, affine
    * permutations, band folds) runs in HUGEINT with 32-bit-split wrapping
    * multiplies; the signature min is taken over SIGNED values (the Scala
    * `v < out(p)` comparison is signed-Long); the per-permutation affine
    * coefficients come from [[graft.ext.Dedup.minhashCoefficients]] so the
    * constants can never drift from the engine. String shingles stand in
    * for the engine's hashed shingles in the Jaccard verify (equal absent
    * a 64-bit in-pair collision, ≈1e-12 — see hashedShinglesUdf's note). */
  private def minhashFullOracleSql: String = {
    val (as_, bs_) = graft.ext.Dedup.minhashCoefficients(64)
    def u(v: Long): String = java.lang.Long.toUnsignedString(v)
    def h(s: String): String = s"CAST($s AS HUGEINT)"
    val M64 = "18446744073709551616"
    val M32 = "4294967296"
    val FnvPrime = "1099511628211"
    val FnvOff = h("1469598103934665603")            // hash64 seed-0 init
    val AvaK = h("18397679294719823053")             // 0xFF51AFD7ED558CCD
    val GramInit = h("14695981039346656037")         // unsigned(-3750763034362895579)
    // (x*y) mod 2^64 via 32-bit split: every partial product < 2^97, fits HUGEINT
    def mulfull(x: String, y: String): String =
      s"((($x) % $M32) * (($y) % $M32) + (((($x) % $M32) * (($y) // $M32) + " +
        s"(($x) // $M32) * (($y) % $M32)) % $M32) * $M32) % $M64"
    // one step of the GRAM FNV chain: h -> ((h*prime) mod 2^64) xor x
    // (engine minhashSignatureUdf: `h = (h * P) ^ wh(j)`)
    def gstep(hh: String, x: String): String =
      s"xor((($hh) * $FnvPrime) % $M64, $x)"
    // one step of the BAND fold: h -> ((h xor s)*prime) mod 2^64 — the
    // engine's bandKeysUdf xors the signature slot BEFORE the multiply
    // (`h = (h ^ sig(i)) * P`), so the band-key VALUES here are the
    // engine's, bit for bit, not merely grouping-equivalent
    def bstep(hh: String, x: String): String =
      s"((xor($hh, $x)) * $FnvPrime) % $M64"
    val pa = "[" + as_.map(a => h(u(a))).mkString(",") + "]"
    val pb = "[" + bs_.map(b => h(u(b))).mkString(",") + "]"
    val bandFold = (0 until 4).map { i =>
      val prev = if (i == 0) "h0" else s"h$i"
      s"    ${bstep(prev, s"sig[CAST(b AS INT)*4+${i + 1}]")} AS h${i + 1},"
    }.mkString("\n")
    s"""WITH w0 AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> length(x) > 0) AS words
       |  FROM documents),
       |wh0 AS (
       |  SELECT doc_id, i,
       |    list_reduce(
       |      list_prepend($FnvOff, ${utf16UnitsSql("w")}),
       |      (h, c) -> (xor(h, c) * $FnvPrime) % $M64) AS r0,
       |    xor(r0, r0 >> 33) AS r1,
       |    ${mulfull("r1", AvaK)} AS r2,
       |    xor(r2, r2 >> 33) AS wh
       |  FROM (SELECT doc_id, generate_subscripts(words, 1) AS i, unnest(words) AS w FROM w0)),
       |whl AS (
       |  SELECT w0.doc_id, coalesce(g.whl, []) AS whl
       |  FROM w0 LEFT JOIN (SELECT doc_id, list(wh ORDER BY i) AS whl FROM wh0 GROUP BY doc_id) g
       |  USING (doc_id)),
       |gh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(whl) >= 3 THEN
       |      list_transform(range(len(whl) - 2), g ->
       |        ${gstep(gstep(gstep(GramInit.toString, "whl[CAST(g AS INT)+1]"), "whl[CAST(g AS INT)+2]"), "whl[CAST(g AS INT)+3]")})
       |    WHEN len(whl) > 0 THEN
       |      [list_reduce(list_prepend($GramInit, whl), (h, x) -> ${gstep("h", "x")})]
       |    ELSE [] END AS ghs
       |  FROM whl),
       |sigv AS (
       |  SELECT doc_id, p,
       |    min(CAST(v - CASE WHEN v >= 9223372036854775808 THEN $M64 ELSE 0 END AS BIGINT)) AS sv
       |  FROM (
       |    SELECT doc_id, pm.p, (${mulfull("pm.a", "gr.h")} + pm.b) % $M64 AS v
       |    FROM (SELECT doc_id, unnest(ghs) AS h FROM gh WHERE len(ghs) > 0) gr,
       |         (SELECT CAST(i AS INT) AS p, ($pa)[CAST(i AS INT)+1] AS a, ($pb)[CAST(i AS INT)+1] AS b FROM range(64) t(i)) pm)
       |  GROUP BY doc_id, p),
       |sigl AS (
       |  SELECT gh.doc_id,
       |    CASE WHEN len(gh.ghs) = 0 THEN [CAST(9223372036854775807 AS HUGEINT) FOR x IN range(64)]
       |    ELSE s.sig END AS sig
       |  FROM gh LEFT JOIN (
       |    SELECT doc_id, list(CAST(sv + CASE WHEN sv < 0 THEN $M64 ELSE 0 END AS HUGEINT) ORDER BY p) AS sig
       |    FROM sigv GROUP BY doc_id) s USING (doc_id)),
       |bands AS (
       |  SELECT doc_id, b,
       |    xor($FnvOff, CAST(b AS HUGEINT)) AS h0,
       |$bandFold
       |    xor(h4, h4 >> 33) AS a1,
       |    ${mulfull("a1", AvaK)} AS a2,
       |    xor(a2, a2 >> 33) AS a3,
       |    ((a3 % 9223372036854775808) | (CAST(b AS HUGEINT) * 72057594037927936)) AS band_key
       |  FROM sigl, range(16) t(b)),
       |sz AS (SELECT band_key, count(*) AS n FROM bands GROUP BY 1),
       |cand AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
       |  FROM bands x JOIN bands y USING (band_key) JOIN sz USING (band_key)
       |  WHERE sz.n > 1 AND sz.n <= 1000 AND x.doc_id < y.doc_id
       |  UNION
       |  SELECT rep.mn AS id_a, b.doc_id AS id_b
       |  FROM bands b
       |  JOIN (SELECT band_key, min(doc_id) AS mn FROM bands GROUP BY 1) rep
       |    USING (band_key)
       |  JOIN sz USING (band_key)
       |  WHERE sz.n > 1000 AND b.doc_id > rep.mn),
       |sh AS (
       |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
       |    SELECT doc_id,
       |    CASE WHEN len(words) >= 3 THEN
       |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
       |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
       |    ELSE [] END AS ngrams
       |    FROM w0))
       |SELECT id_a, id_b,
       |  CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) > 0 THEN
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(list_distinct(list_concat(sa.sh, sb.sh)))
       |  ELSE 0.0 END AS jaccard
       |FROM cand JOIN sh sa ON cand.id_a = sa.doc_id JOIN sh sb ON cand.id_b = sb.doc_id
       |WHERE jaccard >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Full DuckDB replay of q_dedup_simhash: per-token hash64 (same word
    * hash as the minhash oracle), per-bit majority vote over the token
    * MULTISET, 64-bit sketch reassembly, pigeonhole banding (maxHamming+1
    * bit-slice bands keyed with the band id folded at bit 58), bucket
    * self-join under the maxBucket guard, and bit_count hamming verify —
    * mirroring [[graft.ext.Dedup.simhashNearDuplicates]] constant for
    * constant. hamming is cast to INTEGER to match Spark's bit_count type. */
  private def simhashFullOracleSql: String = {
    val maxH = 8; val maxBucket = 10000
    val numBands = maxH + 1
    val base = 64 / numBands; val extra = 64 % numBands
    val widths = Array.tabulate(numBands)(b => base + (if (b < extra) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val M64 = "18446744073709551616"
    val M32 = "4294967296"
    // band id << 58 folded in, same as the engine's lit(b << 58).bitwiseOR
    val bandExprs = (0 until numBands).map { b =>
      s"(CAST($b AS HUGEINT) * 288230376151711744 + ((sh >> ${starts(b)}) % ${1L << widths(b)}))"
    }.mkString(",\n    ")
    val avaK = "CAST(18397679294719823053 AS HUGEINT)"
    s"""WITH w0 AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> length(x) > 0) AS words
       |  FROM documents),
       |wh0 AS (
       |  SELECT doc_id,
       |    list_reduce(
       |      list_prepend(CAST(1469598103934665603 AS HUGEINT), ${utf16UnitsSql("w")}),
       |      (h, c) -> (xor(h, c) * 1099511628211) % $M64) AS r0,
       |    xor(r0, r0 >> 33) AS r1,
       |    (((r1) % $M32) * (($avaK) % $M32) + ((((r1) % $M32) * (($avaK) // $M32) + ((r1) // $M32) * (($avaK) % $M32)) % $M32) * $M32) % $M64 AS r2,
       |    xor(r2, r2 >> 33) AS wh
       |  FROM (SELECT doc_id, unnest(words) AS w FROM w0)),
       |bits AS (
       |  SELECT doc_id, b,
       |    CASE WHEN sum(CASE WHEN ((wh >> CAST(b AS INT)) % 2) = 1 THEN 1 ELSE -1 END) > 0
       |      THEN CAST(1 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS bit
       |  FROM wh0, range(64) t(b) GROUP BY doc_id, b),
       |shh AS (
       |  SELECT w0.doc_id, coalesce(s.sh, CAST(0 AS HUGEINT)) AS sh
       |  FROM w0 LEFT JOIN (
       |    SELECT doc_id, sum(bit * (CAST(1 AS HUGEINT) << CAST(b AS INT))) AS sh
       |    FROM bits GROUP BY doc_id) s USING (doc_id)),
       |bands AS (
       |  SELECT doc_id, sh, unnest([
       |    $bandExprs]) AS band_key
       |  FROM shh),
       |sz AS (SELECT band_key, count(*) AS n FROM bands GROUP BY 1),
       |pairs AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.sh AS sh_a, y.sh AS sh_b
       |  FROM bands x JOIN bands y USING (band_key) JOIN sz USING (band_key)
       |  WHERE sz.n > 1 AND sz.n <= $maxBucket AND x.doc_id < y.doc_id
       |  UNION
       |  SELECT rep.mn, b.doc_id, rep.msh, b.sh
       |  FROM bands b
       |  JOIN (SELECT band_key, min(doc_id) AS mn, min_by(sh, doc_id) AS msh
       |        FROM bands GROUP BY 1) rep USING (band_key)
       |  JOIN sz USING (band_key)
       |  WHERE sz.n > $maxBucket AND b.doc_id > rep.mn)
       |SELECT DISTINCT id_a, id_b,
       |  CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(sh_a, sh_b)) <= $maxH
       |ORDER BY id_a, id_b""".stripMargin
  }

  val queries: Seq[Query] = Seq(

    Query("q_dedup_exact", (s, dir) => {
      Dedup.exactDuplicateGroups(t(s, dir, "documents"), "text", "doc_id")
        .select(col("text_md5"), col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))
    },
      """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin),

    Query("q_dedup_drop", (s, dir) => {
      // the deduplicated dataset itself (min-id representative per text)
      Dedup.dropExactDuplicates(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1
        |ORDER BY doc_id""".stripMargin),

    Query("q_dedup_clusters", (s, dir) => {
      // pairs → CLUSTERS: unigram-Jaccard pairs on an id-window candidate
      // set (chains deliberately: doc i ~ i+1 ~ i+2 at θ=0.9 without
      // i ~ i+2), closed transitively by alternating large-star/small-star
      // connected components. The oracle recomputes the closure in DuckDB
      // with a recursive CTE — 10 multi-doc clusters with 71 transitively-
      // implied (never directly edged) memberships at sf0.01, so a CC bug
      // cannot hide behind the pair list.
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = chainedPairs(docs)
      Dedup.duplicateClusters(docs.select(col("doc_id")), "doc_id", pairs)
        .select(col("doc_id"), col("cluster_id"), col("is_representative"))
        .orderBy(col("doc_id"))
    },
      s"""$ccClosureCtes
        |SELECT id AS doc_id, MIN(lbl) AS cluster_id,
        |  (MIN(lbl) = id) AS is_representative
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    Query("q_pagerank", (s, dir) => {
      // quantized-exact PageRank (ext/PageRank.scala) over the SAME
      // chained near-dup graph: centrality in integer micro-units — every
      // floor-division iteration unrolled and replayed by the oracle, the
      // ExactKMeans pattern applied to graph analytics
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = chainedPairs(docs)
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.ext.PageRank.ranks(sym, "src", "dst", PrIters)
        .orderBy(col("id"))
    },
      // PageRank replay: same pair derivation, every floor-division
      // iteration unrolled (the ExactKMeans pattern on a graph)
      s"""WITH $jaccardPairCtes,
         |${pageRankCtes()}
         |SELECT id, pr_u6 FROM p$PrIters ORDER BY id""".stripMargin),

    Query("q_hits", (s, dir) => {
      // HITS hub/authority over the DIRECTED near-dup pairs (smaller id
      // → larger id: "original endorses later copy"): the two-sided
      // centrality PageRank's single score can't express — much-copied
      // originals separate from heavy copiers. Integer max-normalized
      // iterations, every step replayed by the oracle.
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      graft.ext.Hits.scores(chainedPairs(docs), "id_a", "id_b", HitsIters)
        .orderBy(col("id"))
    },
      // HITS over the directed pair table, every max-normalized step replayed
      s"""WITH $jaccardPairCtes,
         |$hitsCtes
         |SELECT h.id, h.h_u6 AS hub_u6, a.a_u6 AS auth_u6
         |FROM hh$HitsIters h JOIN aa$HitsIters a USING (id)
         |ORDER BY h.id""".stripMargin),

    Query("q_ppr", (s, dir) => {
      // PERSONALIZED PageRank (random walk with restart): teleport mass
      // returns only to the vetted-seed docs (doc_id % 40 == 0) — rank
      // becomes graph PROXIMITY TO THE TRUSTED SET propagated through
      // the same chained near-dup graph (quality/trust propagation, the
      // label-propagation ranking cousin); every floor-division
      // iteration replayed, seed-gated init and base included
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = chainedPairs(docs)
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val seeds = docs.filter(col("doc_id") % 40 === 0).select(col("doc_id"))
      graft.ext.PageRank.personalizedRanks(sym, "src", "dst",
          seeds, "doc_id", PrIters)
        .orderBy(col("id"))
    },
      // the personalized form: init and teleport base gated to the seeds
      s"""WITH $jaccardPairCtes,
         |${pageRankCtes(id => s"$id % 40 = 0")}
         |SELECT id, pr_u6 FROM p$PrIters ORDER BY id""".stripMargin),

    Query("q_rank_best", (s, dir) => {
      // CENTRALITY-BASED representative selection: within each transitive
      // near-dup cluster the most central member (max PageRank, ties →
      // smaller id) survives — the "canonical version of a boilerplate
      // family" heuristic, composing the CC and PageRank families
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = chainedPairs(docs)
      val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val pr = graft.ext.PageRank.ranks(sym, "src", "dst", PrIters)
      val cl = Dedup.duplicateClusters(docs.select(col("doc_id")),
        "doc_id", pairs)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(coalesce(col("pr_u6"), lit(0L)).desc, col("doc_id"))
      cl.join(pr.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("keep", row_number().over(w) === 1)
        .select(col("doc_id"), col("cluster_id"), col("keep"))
        .orderBy(col("doc_id"))
    },
      // CC closure + PageRank + per-cluster centrality argmax
      s"""$ccClosureCtes,
         |${pageRankCtes()},
         |cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
         |       FROM reach GROUP BY id),
         |rk AS (
         |  SELECT cl.doc_id, cl.cluster_id,
         |    row_number() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY coalesce(p.pr_u6, 0) DESC, cl.doc_id) AS rn
         |  FROM cl LEFT JOIN p$PrIters p ON p.id = cl.doc_id)
         |SELECT doc_id, cluster_id, (rn = 1) AS keep
         |FROM rk ORDER BY doc_id""".stripMargin),

    Query("q_dedup_best", (s, dir) => {
      // quality-aware representative selection over the SAME chained
      // clusters as q_dedup_clusters: keep the LONGEST member (n_chars
      // priority) of each near-dup cluster instead of the min-id one —
      // the oracle recomputes the closure AND the per-cluster argmax
      val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
      val pairs = chainedPairs(docs)
      Dedup.keepBestPerCluster(
          docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars",
          pairs)
        .select(col("doc_id"), col("cluster_id"), col("keep"))
        .orderBy(col("doc_id"))
    },
      // same closure; the representative is the per-cluster argmax of
      // n_chars (ties → smaller doc_id) instead of the component minimum
      s"""$ccClosureCtes,
        |cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
        |       FROM reach GROUP BY id),
        |rk AS (
        |  SELECT cl.doc_id, cl.cluster_id,
        |    row_number() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY d2.n_chars DESC, cl.doc_id) AS rn
        |  FROM cl JOIN (SELECT doc_id, n_chars FROM documents
        |                WHERE doc_id < 200) d2 USING (doc_id))
        |SELECT doc_id, cluster_id, (rn = 1) AS keep
        |FROM rk ORDER BY doc_id""".stripMargin),

    Query("q_dedup_minhash", (s, dir) => {
      Dedup.minhashNearDuplicates(t(s, dir, "documents"), "text", "doc_id",
          shingleN = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }, minhashFullOracleSql),

    Query("q_dedup_minhash_planted", (s, dir) => {
      // planted near-duplicate fixture with a FULL oracle (the cosine-LSH
      // falsifiability trick applied to text): exact copies of doc_id < 200
      // shifted to +100000. At threshold 0.9 the per-pair candidate-miss
      // probability of 16 bands × 4 rows is (1-0.9⁴)¹⁶ ≈ 4e-8 — and the
      // hash family is deterministic — so the LSH output equals the exact
      // all-pairs Jaccard≥0.9 set, which DuckDB computes independently.
      // base corpus capped at 1000 docs: the planted pairs carry the
      // falsifiability; the full-corpus LSH cost is already paid (and
      // rows-only-checked) by q_dedup_minhash
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      val planted = docs.filter(col("doc_id") < 200)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.minhashNearDuplicates(docs.union(planted), "text", "doc_id",
          shingleN = 3, threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH u AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 1000
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id < 200),
        |sh AS (
        |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
        |    SELECT doc_id,
        |    CASE WHEN len(words) >= 3 THEN
        |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
        |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
        |    ELSE [] END AS ngrams
        |    FROM (SELECT doc_id,
        |      list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), w -> length(w) > 0) AS words
        |      FROM u))),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0 THEN
        |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh)))
        |    ELSE 0.0 END AS jaccard
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.9
        |ORDER BY id_a, id_b""".stripMargin),

    Query("q_dedup_incr", (s, dir) => {
      // INCREMENTAL dedup: a new batch (copies of doc_id < 200 at +100000,
      // double-copies of doc_id < 50 at +200000 — the latter plant
      // within-batch pairs) against the STORED index of the old corpus —
      // old band keys and shingles read from the store, never rehashed.
      // Same falsifiability argument as q_dedup_minhash_planted: at θ=0.9
      // the LSH candidate set equals the exact all-pairs Jaccard≥0.9 set,
      // which the oracle computes independently and restricts to pairs
      // touching the batch.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      val batch = docs.filter(col("doc_id") < 200)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      Dedup.minhashDedupAgainstIndex(
        Dedup.openMinhashIndex(s, minhashIndexFor(s, dir)), batch,
          "text", "doc_id", threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }, incrDedupOracleSql),

    Query("q_delta_pipeline", (s, dir) => {
      // THE MONTHLY-RECRAWL PIPELINE in one gate: snapshotDiff classifies
      // the recrawl against the old corpus, and ONLY the delta (added +
      // changed — ids shifted by 2e6 so an edited doc can match its own
      // old version) probes the STORED MinHash index — re-processing
      // cost tracks the delta, never the corpus. Edited docs (one token
      // appended) stay near-dups of their old selves only when long
      // enough, so the threshold genuinely cuts; the oracle replays the
      // diff, the delta selection, and exact all-pairs Jaccard.
      val old = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      val nw = old.filter(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 5, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .union(old.filter(col("doc_id") < 300)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val delta = nw
        .join(Corpus.snapshotDiff(old, nw, "doc_id", "text")
          .filter(col("status").isin("added", "changed")), "doc_id")
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      Dedup.minhashDedupAgainstIndex(
        Dedup.openMinhashIndex(s, minhashIndexFor(s, dir)), delta,
          "text", "doc_id", threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    },
      // recrawl delta replay: diff → delta (added + changed, +2e6 ids) →
      // exact all-pairs Jaccard restricted to pairs touching the delta
      """WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
        |nw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 5 THEN text || ' v2' ELSE text END AS text
        |  FROM old WHERE doc_id % 17 != 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM old WHERE doc_id < 300),
        |delta AS (
        |  SELECT n.doc_id + 2000000 AS doc_id, n.text
        |  FROM nw n LEFT JOIN old o USING (doc_id)
        |  WHERE o.doc_id IS NULL OR o.text IS DISTINCT FROM n.text),
        |u AS (SELECT doc_id, text FROM old
        |      UNION ALL SELECT doc_id, text FROM delta),
        |sh AS (
        |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
        |    SELECT doc_id,
        |    CASE WHEN len(words) >= 3 THEN
        |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
        |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
        |    ELSE [] END AS ngrams
        |    FROM (SELECT doc_id,
        |      list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), w -> length(w) > 0) AS words
        |      FROM u))),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0 THEN
        |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh)))
        |    ELSE 0.0 END AS jaccard
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p
        |WHERE jaccard >= 0.9 AND id_b >= 2000000
        |ORDER BY id_a, id_b""".stripMargin),

    Query("q_incr_stream", (s, dir) => {
      // the STREAMING ingest form of q_dedup_incr: the planted batch
      // arrives as one micro-batch over a FRESH copy of the old-corpus
      // index (the sink MUTATES its index — probe then append — so the
      // q_dedup_incr cache cannot be shared); the pair ledger is read
      // back without batch ids. The probe-then-append multi-batch
      // equality is pinned in StreamingSpec
      val idx = copyDir(minhashIndexFor(s, dir))
      val batchPath = incrBatchFixtureFor(s, dir)
      val stream = s.readStream
        .schema(s.read.parquet(batchPath).schema).parquet(batchPath)
      val sink = runSink("incrstream")((sink, ckpt) =>
        graft.streaming.Streaming.minhashDedupIngestToSink(stream, idx,
          "text", "doc_id", sink, ckpt, threshold = 0.9))
      readSink(s, sink)
        .orderBy(col("id_a"), col("id_b"))
    },
      // the STREAMING ingest twin probes the same planted batch against a
      // fresh copy of the old-corpus index (single-file fixture → one
      // micro-batch; the probe-then-append multi-batch equality is pinned
      // in StreamingSpec), so it shares the replay verbatim
      incrDedupOracleSql),

    Query("q_dedup_compact", (s, dir) => {
      // MINHASH INDEX COMPACTION under the gate (the q_bm25_compact
      // treatment): the old corpus arrives as a head build + two TAGGED
      // segment appends, then compactMinhashIndex folds the three
      // segments into one bucket-partitioned band_key-sorted table — and
      // the probe after compaction must STILL equal q_dedup_incr's probe
      // of the single-shot index bit for bit (shared oracle; compaction
      // is pure layout).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 1000)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-mh-compact-").toString
      // modulo splits: non-empty at every sf (sf0.001 has only 500 docs)
      Dedup.buildMinhashIndex(s, idx, docs.filter(col("doc_id") % 3 === 0),
        "text", "doc_id")
      // one handle across append/append/compact/probe (round 21): a
      // handle per call re-reads the manifest per call — 4 extra driver
      // round-trips for identical results
      val h = Dedup.openMinhashIndex(s, idx)
      Dedup.appendToMinhashIndex(h, docs.filter(col("doc_id") % 3 === 1),
        "text", "doc_id", tag = "a")
      Dedup.appendToMinhashIndex(h, docs.filter(col("doc_id") % 3 === 2),
        "text", "doc_id", tag = "b")
      Dedup.compactMinhashIndex(h)
      val batch = docs.filter(col("doc_id") < 200)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      Dedup.minhashDedupAgainstIndex(h, batch,
          "text", "doc_id", threshold = 0.9, maxBucket = 1000,
          excludeSeg = "")
        .orderBy(col("id_a"), col("id_b"))
    },
      // build → tagged append ×2 → compact == the single-shot index
      // (compaction is pure layout), so the probe shares the replay verbatim
      incrDedupOracleSql),

    Query("q_dedup_simhash", (s, dir) => {
      Dedup.simhashNearDuplicates(t(s, dir, "documents"), "text", "doc_id",
          maxHamming = 8)
        .orderBy(col("id_a"), col("id_b"))
    }, simhashFullOracleSql),

    Query("q_dedup_simhash_planted", (s, dir) => {
      // falsifiability fixture for the simhash path (the q_dedup_cosine /
      // q_dedup_minhash_planted trick): 100 docs with globally DISJOINT
      // token vocabularies + an exact copy of each at id+1000. Disjoint
      // vocabularies make distinct docs' simhashes 64 independent fair
      // bits — P(hamming ≤ 8) ≈ 3e-10 per pair, and the hash family is
      // deterministic, so the output is EXACTLY the 100 planted pairs at
      // hamming 0, which the oracle states as constants. Validates both
      // guaranteed recall at hamming 0 and no false positives.
      import s.implicits._
      val base = (0 until 100).map { i =>
        (i.toLong, (0 until 30).map(j => s"tok${i}x$j").mkString(" "))
      }
      val copies = base.map { case (id, text) => (id + 1000L, text) }
      Dedup.simhashNearDuplicates((base ++ copies).toDF("doc_id", "text"),
          "text", "doc_id", maxHamming = 8)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
      """SELECT i AS id_a, i + 1000 AS id_b, CAST(0 AS BIGINT) AS hamming
        |FROM range(100) t(i) ORDER BY id_a, id_b""".stripMargin),

    Query("q_lsh_skew_report", (s, dir) => {
      // the maxBucket recall trade-off surfaced as a measurable report: a
      // planted mega-bucket (200 identical docs) over 16 bands must show as
      // exactly 16 overflowing buckets of 200 band-memberships each —
      // content-independent COUNTS, so the oracle states them as constants
      import s.implicits._
      val boiler = (0 until 200).map(i =>
        (i.toLong, "the same boilerplate footer text repeated everywhere"))
      val unique = (0 until 50).map(i =>
        (1000L + i, s"unique document $i with alpha$i beta$i gamma$i delta$i"))
      val keys = Dedup.minhashBandKeys((boiler ++ unique).toDF("doc_id", "text"),
        "text", "doc_id", numBands = 16)
      Dedup.bucketOverflowReport(keys, "band_key", maxBucket = 100)
    },
      """SELECT CAST(16 AS BIGINT) AS n_overflow_buckets,
        |CAST(3200 AS BIGINT) AS rows_in_overflow,
        |CAST(200 AS BIGINT) AS max_bucket_size""".stripMargin),

    Query("q_ngram_jaccard", (s, dir) => {
      // exact 3-gram Jaccard on an id-window candidate set (smoke shape;
      // the LSH path above is the scale path)
      val docs = t(s, dir, "documents")
      val cands = docs.select(col("doc_id").as("id_a"))
        .filter(col("id_a") < 20)
        .crossJoin(docs.select(col("doc_id").as("id_b")).filter(col("id_b") < 20))
        .filter(col("id_a") < col("id_b"))
      Dedup.jaccardVerify(docs, "text", "doc_id", cands, shingleN = 3,
          threshold = 0.0)
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(ngrams) AS sh FROM (
        |    SELECT doc_id,
        |    CASE WHEN len(words) >= 3 THEN
        |      [array_to_string(words[i:i+2], ' ') FOR i IN range(1, len(words) - 1)]
        |    WHEN len(words) > 0 THEN [array_to_string(words, ' ')]
        |    ELSE [] END AS ngrams
        |    FROM (SELECT doc_id,
        |      list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'), w -> length(w) > 0) AS words
        |      FROM documents))),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a, documents b
        |  WHERE a.doc_id < 20 AND b.doc_id < 20 AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) > 0 THEN
        |  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(list_distinct(list_concat(sa.sh, sb.sh)))
        |ELSE 0.0 END AS jaccard
        |FROM cand JOIN sh sa ON cand.id_a = sa.doc_id
        |JOIN sh sb ON cand.id_b = sb.doc_id
        |ORDER BY id_a, id_b""".stripMargin),

    Query("q_dedup_cosine", (s, dir) => {
      // planted near-duplicate fixture: exact copies of vec_id < 50 shifted
      // to +100000 ids. Random 64-d embeddings never reach cos 0.8, so the
      // exact all-pairs oracle equals exactly the planted pairs — making the
      // LSH path falsifiable (round-1 output was 0 rows, unverifiable).
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Dedup.cosineNearDuplicates(emb.union(planted), "embedding", "vec_id",
          dim = 64, nBands = 8, planesPerBand = 8, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    },
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 50),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |                         list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS c
        |  FROM u a, u b WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(c, 6) AS cosine FROM p WHERE c >= 0.8
        |ORDER BY id_a, id_b""".stripMargin),

    Query("q_dedup_semantic", (s, dir) => {
      // SemDeDup (cluster-then-pair) over the same planted fixture as
      // q_dedup_cosine: exact copies of vec_id < 50 at +100000. Identical
      // vectors assign to identical cells (same centroid cosines, same
      // first-max tie-break), so each copy meets its original inside one
      // cell at cosine 1.0 and is dropped (copy id > original id); random
      // 64-d pairs never reach 0.8, so the survivor set is exactly the
      // originals. Centroids are explicit members (vec_id 0..7) — the
      // DuckDB oracle replays assignment, pairing, and the survivor rule.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val u = emb.union(planted)
      Dedup.semanticDedup(u, "vec_id", "embedding",
          Similarity.centroidsByIds(u, "vec_id", "embedding", 0L to 7L),
          threshold = 0.8)
        .select(col("id").as("vec_id"), col("cell"), col("keep"))
        .orderBy(col("vec_id"))
    },
      // full SemDeDup replay: centroids = vec_id 0..7 (cell id = position),
      // every row (originals + the 50 planted copies) assigned to its
      // max-cosine centroid (ties -> smaller cell), duplicates = rows with a
      // smaller-id same-cell neighbor at cosine >= 0.8
      semDedupOracleSql),

    Query("q_dedup_semantic_skew", (s, dir) => {
      // mode-collapse regime: ONE centroid puts the whole corpus (plants
      // included) into a single mega-cell above maxCell, which the old
      // guard would silently skip. The recursive overflow split
      // re-partitions cell 0 by its 16 smallest-id members (vec_id 0..15)
      // and the planted copies — identical vectors, identical sub-cosines,
      // same first-max tie-break — land in their originals' leaves and are
      // still dropped. The DuckDB oracle replays the split level
      // (sub-centroid pick, reassignment, pairing, survivor rule), so the
      // whole recovery path is hash-checked, not just row-counted.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val u = emb.union(planted)
      // the DuckDB oracle replays exactly ONE split level, so the engine
      // must split exactly once at EVERY sf the query runs at (bench is
      // sf0.1, correctness sf0.01). Deriving maxCell = ceil(n/8) pins the
      // invariant for any corpus size: cell 0 always overflows (n > n/8),
      // and 16 near-uniform random sub-leaves (~n/16 rows, fluctuation
      // O(√(n/16))) always fit under 2× their mean — a fixed maxCell made
      // the single-level assumption silently sf-dependent.
      val n = u.count()
      Dedup.semanticDedup(u, "vec_id", "embedding",
          Similarity.centroidsByIds(u, "vec_id", "embedding", Seq(0L)),
          threshold = 0.8, maxCell = math.max(1L, (n + 7) / 8).toInt,
          splitFanout = 16)
        .select(col("id").as("vec_id"), col("cell"), col("leaf"), col("keep"))
        .orderBy(col("vec_id"))
    },
      // replay of the recursive overflow split: one centroid -> cell 0 for
      // every row; sub-centroids = the 16 smallest-id members (vec_id 0..15,
      // sub index = rank-1); reassign by max cosine (ties -> smaller sub
      // index); pair + survivor rule within each (cell, sub) leaf. One level
      // suffices at sf0.01 (max leaf 44 <= maxCell 100), which the engine's
      // depth-bounded recursion reaches and stops at, so the single-level SQL
      // replay is exact.
      """WITH u AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id < 50),
        |corp AS (SELECT vec_id cid,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM u),
        |subc AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sub_idx,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) sv
        |  FROM embeddings WHERE vec_id < 16),
        |assign AS (
        |  SELECT cid, sub_idx, v FROM (
        |    SELECT c.cid, s.sub_idx, c.v,
        |      row_number() OVER (PARTITION BY c.cid
        |        ORDER BY list_cosine_similarity(c.v, s.sv) DESC, s.sub_idx) rn
        |    FROM corp c, subc s) WHERE rn = 1),
        |dup AS (
        |  SELECT DISTINCT b.cid AS dup_id
        |  FROM assign a JOIN assign b ON a.sub_idx = b.sub_idx AND a.cid < b.cid
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.8)
        |SELECT a.cid AS vec_id, CAST(0 AS INT) AS cell,
        |  '0/' || a.sub_idx AS leaf, (d.dup_id IS NULL) AS keep
        |FROM assign a LEFT JOIN dup d ON a.cid = d.dup_id
        |ORDER BY vec_id""".stripMargin)
  )
}
