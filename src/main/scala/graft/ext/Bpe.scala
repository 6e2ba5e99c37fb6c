package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps

/** Byte-pair-encoding vocabulary induction over a text corpus — the
  * tokenizer-training step of a pretraining pipeline (Sennrich et al. 2016).
  *
  * The 100 TB shape is the standard one: the corpus collapses to a UNIQUE
  * WORD table with frequencies in ONE shuffle (`wordCounts`), and every
  * merge iteration then runs over that table only — its size is the
  * vocabulary of the corpus (~10⁸ rows at web scale, trivially
  * distributed), never the corpus itself. Each round is one map-side-
  * combined pair-count aggregation plus a 1-row argmax collect; lineage is
  * truncated periodically like the connected-components loop.
  *
  * Determinism: the argmax tie-break is total (count desc, then symbol
  * pair ascending), so the learned merge list is a pure function of the
  * corpus — content-addressable like everything else.
  */
object Bpe {

  /** Whitespace word frequencies — the one corpus-wide shuffle. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(filter(split(trim(col(textCol)), "\\s+"),
        w => length(w) > 0)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Adjacent-symbol pair frequencies over a (symbols: array<string>, cnt)
    * table, weighted by word frequency; overlapping occurrences count per
    * adjacent index (the standard BPE statistic). */
  def pairCounts(words: DataFrame, symbolsCol: String = "symbols",
                 cntCol: String = "cnt"): DataFrame = {
    val n = size(col(symbolsCol))
    words.filter(n >= 2)
      .select(col(cntCol),
        explode(arrays_zip(
          slice(col(symbolsCol), lit(1), n - 1).as("a"),
          slice(col(symbolsCol), lit(2), n - 1).as("b"))).as("p"))
      .groupBy(col("p.a").as("sym_a"), col("p.b").as("sym_b"))
      .agg(sum(col(cntCol)).as("cnt"))
  }

  /** Character-pair frequencies of the raw corpus (merge round 0) — the
    * SQL-oracle-friendly entry point. */
  def initialPairCounts(df: DataFrame, textCol: String): DataFrame =
    pairCounts(wordCounts(df, textCol)
      .select(split(col("word"), "").as("symbols"), col("cnt")))

  /** One greedy left-to-right merge pass of (a, b) → a+b over a symbol
    * sequence — the exact merge the reference BPE uses. */
  def mergeOnce(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Learn `numMerges` merges. Returns (merges in order, final symbol
    * table). Each round: deterministic 1-row argmax over the recounted
    * pair-count table → merge applied to the unique-word table. The symbol
    * table comes back persisted and the caller owns it: `unpersist` it once
    * done. A caller that wants only the merges calls [[trainMerges]]. */
  def train(df: DataFrame, textCol: String, numMerges: Int):
      (Seq[(String, String)], DataFrame) = {
    val (merges, words, checkpoints) =
      trainLoop(wordCounts(df, textCol), numMerges)
    if (checkpoints.nonEmpty) {
      // cache the returned table, then drop the checkpoints under it, so
      // that the caller's `unpersist` releases everything
      words.count()
      ColumnOps.releaseCheckpoints(checkpoints)
    }
    (merges, words)
  }

  /** The merges of [[train]] alone: the symbol table and its checkpoints
    * are released before returning, and no job runs beyond the merge
    * rounds. */
  def trainMerges(df: DataFrame, textCol: String, numMerges: Int):
      Seq[(String, String)] =
    trainMergesFromWordCounts(wordCounts(df, textCol), numMerges)

  /** [[trainMerges]] over a precomputed (word, cnt) table — callers that
    * already hold the unique-word table (or train several tokenizers on
    * the same corpus, q_tok_compare) skip the corpus scan + shuffle
    * entirely. */
  def trainMergesFromWordCounts(wc: DataFrame, numMerges: Int):
      Seq[(String, String)] = {
    val (merges, words, checkpoints) = trainLoop(wc, numMerges)
    words.unpersist(false)
    ColumnOps.releaseCheckpoints(checkpoints)
    merges
  }

  /** The merge loop: (merges, persisted final symbol table, local
    * checkpoints the table may still read from).
    *
    * Stays on the FULL-RECOUNT loop at every scale (round 22, measured):
    * the per-round pair aggregation's SHUFFLE is bounded by the
    * DISTINCT-pair universe, not the word universe — map-side partial
    * aggregation collapses the explode before the exchange (SCALING.md,
    * `bpe vocab` decades: shuffleWrite flat at ~0.9 MB/round from 10⁵ to
    * 4×10⁶ unique words). The per-round cost is therefore the one fused
    * map pass (merge-apply + pair explode + partial agg), which is
    * already the first-principles minimum; an incremental pair-count
    * delta-fold was built, measured 2.3× slower at every decade (it pays
    * EXTRA full passes to find affected words while "saving" shuffle that
    * was never being paid) and deleted — SCALING.md keeps the table. */
  private def trainLoop(wc: DataFrame, numMerges: Int):
      (Seq[(String, String)], DataFrame, List[DataFrame]) = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    val mergeUdf = udf((syms: Seq[String], a: String, b: String) =>
      mergeOnce(syms, a, b))
    var words =
      wc.select(split(col("word"), "").as("symbols"), col("cnt")).persist()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var checkpoints = List.empty[DataFrame] // newest first
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val top = pairCounts(words)
        .orderBy(col("cnt").desc, col("sym_a"), col("sym_b"))
        .limit(1).collect()
      // that job materialized the newest checkpoint, which cut the lineage
      // to every older one
      ColumnOps.releaseCheckpoints(checkpoints.drop(1))
      checkpoints = checkpoints.take(1)
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val prev = words
        words = words.select(
          mergeUdf(col("symbols"), lit(a), lit(b)).as("symbols"), col("cnt"))
        if ((round + 1) % 4 == 0) {
          words = words.localCheckpoint(false)
          checkpoints ::= words
        }
        words = words.persist()
        prev.unpersist(false)
      }
      round += 1
    }
    (merges.toSeq, words, checkpoints)
  }

  /** Sequential merge-list replay of one word — the DEFINITIONAL encode
    * (apply every learned merge in training order, each a full greedy
    * left-to-right pass). O(|merges| × |word|) per word: fine at gate
    * scale, a per-row scale problem at a real 30k–100k-merge vocabulary.
    * Kept as the equivalence REFERENCE for [[tokenizeWordRanked]] (the
    * production path) — BpeSpec pins the two equal on trained lists. */
  private[graft] def tokenizeWordSequential(
      w: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = w.split("").toSeq
    merges.foreach { case (a, b) => syms = mergeOnce(syms, a, b) }
    syms
  }

  /** RANK-GREEDY encode of one word: repeatedly merge the LOWEST-RANK
    * adjacent pair present (all its occurrences, left-to-right) until no
    * learned pair remains. O(|word| × #applied merges) — INDEPENDENT of
    * vocabulary size, which is what makes encoding affordable at a real
    * vocab (the GPT-2 `bpe()` shape, Radford et al. 2019).
    *
    * Equivalent to [[tokenizeWordSequential]] on any TRAINED merge list:
    * a pair (x, y) can only be learned after the merges creating x and y,
    * so every merge that could (re)create an (x, y) adjacency has HIGHER
    * rank than (x, y) — when the sequential replay reaches rank r, no
    * pair of rank &lt; r exists in the word, which is exactly the
    * invariant the min-rank loop maintains. (An ARBITRARY hand-built list
    * can violate the precondition and diverge; encode inputs here are
    * always [[train]] outputs.) */
  private[graft] def tokenizeWordRanked(
      w: String, mergesArr: Array[(String, String)],
      ranks: Map[(String, String), Int]): Seq[String] = {
    var syms: Seq[String] = w.split("").toSeq
    var done = syms.length < 2 || mergesArr.isEmpty
    while (!done) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val (a, b) = mergesArr(bestRank)
        syms = mergeOnce(syms, a, b)
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /** Persist a learned merge list as a CONTENT-ADDRESSED tokenizer
    * artifact (the runner-store discipline applied to the tokenizer: the
    * file name carries the SHA-256 of the canonical serialization, so
    * identical merge lists land at identical paths and a consumer can
    * pin a tokenizer by path knowing the content can never drift under
    * it). Atomic write (temp + rename); returns the artifact path. The
    * `tf:` provider accepts this path as its `tokenizer_path`, turning
    * whitespace words into real subword ids into W_E. */
  def saveTokenizer(merges: Seq[(String, String)], dir: String): String = {
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = merges.map { case (a, b) => s"[${jstr(a)}, ${jstr(b)}]" }
      .mkString("{\"merges\": [", ", ", "]}")
    val bytes = json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).map("%02x".format(_)).mkString.substring(0, 16)
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    val path = d.resolve(s"bpe_$hash.json")
    if (!java.nio.file.Files.exists(path)) {
      val tmp = java.nio.file.Files.createTempFile(d, s".bpe_$hash", ".tmp")
      java.nio.file.Files.write(tmp, bytes)
      try java.nio.file.Files.move(tmp, path,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { // a concurrent writer of the SAME content won the rename
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(tmp)
      }
    }
    path.toString
  }

  /** Load a [[saveTokenizer]] artifact back into its merge list. */
  def loadTokenizer(path: String): Seq[(String, String)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(new java.io.File(path))
    require(root.has("merges") && root.get("merges").isArray,
      s"$path: not a tokenizer artifact (no 'merges' array)")
    val m = root.get("merges")
    (0 until m.size()).map { i =>
      val p = m.get(i)
      require(p.isArray && p.size() == 2, s"$path: merges[$i] must be a pair")
      (p.get(0).asText(), p.get(1).asText())
    }
  }

  /** Tokenize a text column with a LEARNED merge list — rank-greedy per
    * word (see [[tokenizeWordRanked]]): per-row cost tracks the word
    * length and the merges that actually APPLY, not the vocabulary size,
    * so the same UDF serves a 6-merge gate corpus and a 100k-merge
    * production tokenizer. */
  def tokenizeColumn(text: Column, merges: Seq[(String, String)]): Column = {
    val mergesArr = merges.toArray
    // first occurrence wins if a pair was ever re-learned (count resurged
    // after later merges): the sequential replay applies the FIRST one
    val ranks: Map[(String, String), Int] = {
      val m = scala.collection.mutable.HashMap.empty[(String, String), Int]
      mergesArr.iterator.zipWithIndex.foreach { case (p, i) =>
        if (!m.contains(p)) m(p) = i
      }
      m.toMap
    }
    val tok = udf((t: String) => {
      // null-tolerant like the train path (split(trim(null)) propagates
      // null and explode drops it): a null text tokenizes to no tokens
      // rather than NPE-ing the task
      if (t == null) Seq.empty[String]
      else t.trim.split("\\s+").iterator.filter(_.nonEmpty)
        .flatMap(w => tokenizeWordRanked(w, mergesArr, ranks)).toSeq
    })
    tok(text)
  }
}
