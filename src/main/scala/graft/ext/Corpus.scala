package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus-level training-data curation operators — the decisions a 100 TB
  * pretraining pipeline makes BETWEEN raw scans and tokenization: benchmark
  * contamination detection, intra-corpus segment dedup, PII redaction,
  * Gopher-style quality gating, and exact stratified sampling.
  *
  * Beyond the reference's surface (north star in /root/repo/BASELINE.json).
  * Design rules shared by every operator here:
  *  - per-row feature extraction is pure `Column` expressions (whole-stage
  *    codegen, zero shuffle);
  *  - corpus-wide steps shuffle HASHES or WORD N-GRAMS, never documents;
  *  - the only full-document shuffle is the final reassembly groupBy in
  *    [[dedupSegments]], keyed by doc id (uniform, no skew).
  */
object Corpus {

  /** Word tokens: split on runs of RE2-safe whitespace ([[TextAnalysis.Ws]]
    * — `\s` differs between Java and RE2, and these results are
    * oracle-replayed in DuckDB), then zero-length tokens dropped. Spark's
    * `split` keeps the empty strings that leading/trailing separators
    * produce (and `trim` strips only spaces, not tabs/newlines), while the
    * DuckDB oracles all apply `list_filter(length > 0)` — filtering here
    * keeps both engines' word lists identical on whitespace-edged text.
    * Blank text → empty array.
    */
  def words(text: Column): Column =
    filter(split(text, TextAnalysis.Ws + "+"), w => length(w) > 0)

  /** Let-bind an array-valued expression once per row. A higher-order
    * function's lambda body inlines any OUTER expression it references, so
    * `transform(sequence(...), i => f(slice(ws, ...)))` with `ws` a
    * split/filter tree re-evaluates the whole tokenization per element —
    * O(words²) per document (measured 8× the split's own cost on the sf0.1
    * corpus). Routing the value through a single-element `transform` turns
    * every inner reference into a cheap lambda-variable read. */
  private[ext] def bindArray(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** All word n-grams of `text` joined by single spaces, in order; fewer
    * than `n` words → empty array. Pure expression — the explode/shuffle
    * decision stays with the caller.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    bindArray(words(text)) { ws =>
      val m = size(ws) - (n - 1)
      when(m <= 0, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), m - 1),
          i => concat_ws(" ", slice(ws, i + 1, lit(n)))))
    }
  }

  /** 64-bit hashes of all word n-grams of `text`, WITHOUT materializing the
    * gram strings: each gram is hashed as its word-slice array directly
    * (`xxhash64` hashes array elements in order, so two grams collide in
    * identity exactly when their word sequences match — the same equality
    * [[wordNgrams]] strings encode, since words cannot contain the
    * separator). Building the joined strings (slice + concat_ws per
    * position) measured ~8× the cost of the tokenizing split itself at
    * sf0.1; every consumer that only needs gram IDENTITY (contamination,
    * dedup) should use this form. */
  def wordNgramHashes(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    bindArray(words(text)) { ws =>
      val m = size(ws) - (n - 1)
      when(m <= 0, array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(0), m - 1),
          i => xxhash64(slice(ws, i + 1, lit(n)))))
    }
  }

  /** Benchmark-contamination check (the n-gram-overlap test run before
    * training: does a candidate document share any word n-gram with an
    * evaluation benchmark?). Returns one row per `train` document:
    * `(<idCol>, n_overlap_grams, is_contaminated)` where `n_overlap_grams`
    * counts DISTINCT shared n-grams and `is_contaminated` is
    * `n_overlap_grams >= minOverlap`.
    *
    * PRECONDITION: `idCol` must be unique per `train` row. The per-doc
    * distinct is row-local (`array_distinct` over a row's gram hashes), so
    * with duplicated ids the overlap counts of same-id rows are SUMMED —
    * a shared gram appearing in two rows of one id counts twice. Dedup on
    * id first (or pre-aggregate `(id, gram)` pairs) if uniqueness isn't
    * guaranteed; the row-local form is what lets a 100 TB train side avoid
    * a global (id, gram) distinct shuffle.
    *
    * 100 TB shape: benchmarks are small by construction (10³–10⁶ examples),
    * so the distinct benchmark-gram set is broadcast and the training side
    * never shuffles full documents — only its (id, gram) pairs, which the
    * per-doc distinct + map-side-combined count keep bounded. Pass
    * `broadcastBench = false` if the benchmark side is genuinely large
    * (falls back to a hash join on the gram).
    */
  def contamination(train: DataFrame, bench: DataFrame,
                    textCol: String, idCol: String, n: Int,
                    minOverlap: Long = 1L,
                    broadcastBench: Boolean = true): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    // shuffle/broadcast 64-bit gram hashes, never gram strings: the
    // broadcast side is 8 bytes/gram and the train-side distinct+join
    // shuffles (id, long). A hash collision flags one extra gram as shared
    // (P ≈ n²/2⁶⁴ per doc) — the standard trade in production overlap
    // checks; the strings themselves never leave their partitions.
    val bg0 = bench
      .select(explode(wordNgramHashes(col(textCol), n)).as("__g")).distinct()
    val bg = if (broadcastBench) broadcast(bg0) else bg0
    // "count each shared gram once per doc" is a PER-DOC distinct — done
    // row-locally (array_distinct over the gram hashes) so no (id, gram)
    // pair ever shuffles for it; the exploded hashes feed straight into
    // the broadcast join and the only shuffle is the per-doc overlap count
    // of the few SURVIVING grams
    val overlaps = train
      .select(col(idCol), explode(array_distinct(
        wordNgramHashes(col(textCol), n))).as("__g"))
      .join(bg, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap_grams"))
    train.select(col(idCol))
      .join(overlaps, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_overlap_grams"), lit(0L)).as("n_overlap_grams"),
        (coalesce(col("n_overlap_grams"), lit(0L)) >= minOverlap)
          .as("is_contaminated"))
  }

  /** Corpus-wide segment-level dedup (the "remove repeated boilerplate
    * paragraphs" pass — Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better" applies it at the substring level; this is the
    * aligned-segment formulation): split every document into consecutive
    * `k`-word segments, keep only the FIRST occurrence of each distinct
    * segment corpus-wide (first = minimum `(doc id, segment index)`,
    * deterministic), and reassemble each document from its surviving
    * segments in order. Documents whose every segment was seen earlier
    * come back as the empty string — rows are never dropped.
    *
    * Output: `(<idCol>, dedup_text)`.
    *
    * 100 TB shape: the first-occurrence choice is a groupBy-min on the
    * segment's 64-bit content hash (map-side combine; the shuffle carries
    * each distinct 8-byte hash once per partition, not each occurrence of
    * the text); the winners fold into one small index-array per doc; and
    * reassembly joins that array back to the docs and re-splits the text
    * row-locally — segment text never crosses the wire, only (id,
    * index-array) decisions do. A hash collision merges two distinct segments
    * (P ≈ n²/2⁶⁴ — the trade every production dedup makes). Nothing is ever
    * quadratic in corpus size and no driver-side state exists. A repeated
    * mega-segment (site boilerplate duplicated 10⁹×) is one groupBy key —
    * partial aggregation absorbs it; the join side is AQE-skew-split
    * territory, keep AQE on.
    */
  def dedupSegments(docs: DataFrame, textCol: String, idCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def segIdx(ws: Column): Column = // indexes 0..nseg-1 of k-word segments
      sequence(lit(0),
        ceil(size(ws).cast("double") / k).cast("int") - 1)
    val segs = bindArray(words(col(textCol))) { ws =>
      when(size(ws) === 0, array().cast("array<string>"))
        .otherwise(transform(segIdx(ws),
          i => concat_ws(" ", slice(ws, i * k + 1, lit(k)))))
    }
    // The dedup DECISION runs on a 64-bit content hash of the segment (what
    // production dedup shuffles — Lee et al. use hashes too), computed from
    // the word-slice array directly so the segment STRINGS are never built
    // or exploded: only (id, idx, 8-byte hash) rows leave the row.
    // min(struct) = lexicographic (id, idx) minimum — deterministic first
    // occurrence without a window over the whole corpus.
    val segHashes = bindArray(words(col(textCol))) { ws =>
      when(size(ws) === 0, array().cast("array<bigint>"))
        .otherwise(transform(segIdx(ws),
          i => xxhash64(slice(ws, i * k + 1, lit(k)))))
    }
    val hashed = docs
      .select(col(idCol), posexplode(segHashes).as(Seq("__seg_idx", "__h")))
    val firstOcc = hashed.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__seg_idx"))).as("__first"))
    // The keep-decision is just (doc id, segment index) pairs — fold the
    // winners into one small int-array per doc and join THAT back to the
    // original docs, then reassemble by re-splitting the text in place.
    // Segment text therefore never crosses the wire at all: the winner
    // groupBy shuffles 8-byte hashes + 12-byte structs, the per-doc fold
    // shuffles (id, int), and the docs⋈decisions join shuffles each doc
    // once — which is the output itself. (The previous formulation joined
    // the exploded TEXT on __h and regrouped TEXT by id: two full
    // segment-text shuffles for data we already hold row-locally.)
    val keptIdx = firstOcc
      .select(col("__first").getField(idCol).as(idCol),
        col("__first").getField("__seg_idx").as("__seg_idx"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__seg_idx"))).as("__keep"))
    docs.join(keptIdx, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__keep").isNull, lit(""))
          .otherwise(concat_ws(" ",
            filter(segs, (s, i) => array_contains(col("__keep"), i))))
          .as("dedup_text"))
  }

  /** Overlapping-window exact-substring dedup (the ExactSubstr form of Lee
    * et al. 2021 "Deduplicating Training Data Makes Language Models
    * Better", word-granular): any k-word window that occurs anywhere else
    * in the corpus marks a duplicated SPAN; every occurrence except the
    * corpus-wide first (lexicographic min (id, pos)) has its covered
    * tokens removed, and each document reassembles from its surviving
    * tokens. Unlike [[dedupSegments]] (non-overlapping stride-k segments),
    * windows slide at stride 1 — a duplicated passage is caught at ANY
    * alignment, the property that makes ExactSubstr the standard
    * memorization-reduction pass. Self-overlapping repeats (aaaa…) drop
    * aggressively (every non-first window counts); that is the
    * conservative direction for training data.
    *
    * Result: (id, dedup_text, n_dropped_tokens). Docs shorter than k have
    * no windows and pass through whole (whitespace-normalized, like every
    * reassembly here).
    *
    * 100 TB: window STRINGS are never built or shuffled — the decision
    * rides (id, pos, 8-byte xxhash64 of the word slice) rows; the winner
    * groupBy is hash-keyed with partial aggregation (boilerplate repeated
    * 10⁹× collapses into one key); the per-doc start-list fold shuffles
    * (id, int) pairs; the only text-carrying shuffle is the final docs ⋈
    * decisions join, whose payload is the output itself. Collision risk
    * n²/2⁶⁴, the standard production trade.
    */
  def dedupSpans(docs: DataFrame, textCol: String, idCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val winHashes = bindArray(words(col(textCol))) { ws =>
      when(size(ws) < k, array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(0), size(ws) - k),
          i => xxhash64(slice(ws, i + 1, lit(k)))))
    }
    val occ = docs
      .select(col(idCol), posexplode(winHashes).as(Seq("__pos", "__h")))
    val firstOcc = occ.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"))
    val dupStarts = occ.join(firstOcc, Seq("__h"))
      .filter(col("__first") =!= struct(col(idCol), col("__pos")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__pos"))).as("__starts"))
    // Reassembly is ONE linear merge of the token stream against the
    // sorted start list (two pointers, running coverage horizon): a token
    // at p is covered iff some start s ≤ p has s + k > p, i.e. p is below
    // the max(s)+k horizon of the starts already passed. The expression
    // form this replaces — `filter(ws, p -> !exists(__starts, …))` — was
    // O(tokens × duplicate-starts) per document, O(tokens²) for a long doc
    // that is almost entirely duplicated windows (starts ≈ tokens): a
    // straggler task at 100 TB even though job-level decades measured
    // linear (VERDICT r13). The primitive pass is O(tokens + starts) with
    // NO pathological shape; bit-equality with the expression form is
    // pinned by ExtSpec on adversarial fixtures.
    val assembleUdf = udf { (ws: scala.collection.Seq[String],
                             starts: scala.collection.Seq[Int]) =>
      if (ws == null) ("", -1L) // null text: ("", null) after the -1 map
      else if (starts == null || starts.isEmpty) (ws.mkString(" "), 0L)
      else {
        val sb = new java.lang.StringBuilder
        var dropped = 0L; var si = 0; var cover = -1; var p = 0
        while (p < ws.length) {
          while (si < starts.length && starts(si) <= p) {
            val c = starts(si) + k; if (c > cover) cover = c; si += 1
          }
          if (p < cover) dropped += 1L
          else { if (sb.length > 0) sb.append(' '); sb.append(ws(p)) }
          p += 1
        }
        (sb.toString, dropped)
      }
    }
    docs.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol),
        assembleUdf(words(col(textCol)), col("__starts")).as("__o"))
      .select(col(idCol), col("__o._1").as("dedup_text"),
        when(col("__o._2") >= 0L, col("__o._2")).as("n_dropped_tokens"))
  }

  /** PII redaction: emails → `<EMAIL>`, IPv4 literals → `<IP>`,
    * international-format phone numbers → `<PHONE>`. Patterns are
    * RE2-compatible (no lookaround/backrefs) so the exact transformation is
    * replayable in the DuckDB oracle, and codegen'd `regexp_replace` keeps
    * this a pure narrow map at 100 TB. Order matters: emails first (an
    * address can embed digit runs), then IPs (dotted digits would otherwise
    * be half-eaten by the phone pattern), phones last.
    */
  def redactPII(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val phone = "\\+[0-9][0-9-]{6,14}[0-9]"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        ipv4, "<IP>"),
      phone, "<PHONE>")
  }

  /** Gopher-style quality gate (Rae et al. 2021, table A1 — the
    * document-level heuristics, restated as pure expressions): per-rule
    * booleans plus the conjunction `keep`. Word-soup corpora tune the
    * bounds; the SHAPE (each rule independently reported so a pipeline can
    * ablate them) is the point.
    */
  def gopherRules(text: Column,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  minUniqueFrac: Double = 0.2,
                  stopwords: Seq[String] = Seq("the", "a", "of", "to", "and"))
      : Seq[(String, Column)] = {
    val ws = words(text)
    val nWords = size(ws)
    // mean over the words themselves (not chars/count — separators don't
    // distort it when texts are multi-space or newline separated)
    val meanLen = when(nWords > 0,
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / nWords)
      .otherwise(lit(0.0))
    val uniqueFrac = when(nWords > 0,
      size(array_distinct(ws)).cast("double") / nWords).otherwise(lit(0.0))
    val hasStop = arrays_overlap(ws, array(stopwords.map(lit): _*))
    val okCount = nWords >= minWords && nWords <= maxWords
    val okMean = meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen
    val okUnique = uniqueFrac >= minUniqueFrac
    Seq(
      "n_words" -> nWords.cast("long"),
      "mean_word_len" -> meanLen,
      "unique_frac" -> uniqueFrac,
      "ok_word_count" -> okCount,
      "ok_mean_word_len" -> okMean,
      "ok_unique_frac" -> okUnique,
      "ok_stopword" -> hasStop,
      "keep" -> (okCount && okMean && okUnique && hasStop))
  }

  /** Exact stratified sample: per stratum, keep exactly
    * `floor(frac * stratum size)` rows, chosen by ranking on
    * `md5(<salt>:<id>)` — deterministic, seedable via `salt`, and
    * replayable bit-for-bit in any engine with md5 (the DuckDB oracle).
    *
    * The default rank is a window partitioned by stratum: the shuffle is
    * one hash-partition on the stratum key. Strata in curation pipelines
    * are coarse (language × source: thousands of groups), so per-stratum
    * sort fits executors until a single stratum outgrows a partition — for
    * that regime pass `subBuckets > 1` and the rank switches to the
    * two-phase mega-stratum form (see [[rankedWithinStrata]]): sub-bucket
    * windows + broadcast per-stratum offsets, parallel even when one
    * stratum is the whole corpus. The sampled rows are IDENTICAL under
    * both forms (same rank total order), so the switch is purely a plan
    * choice.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
                       frac: Double, salt: String = "graft",
                       subBuckets: Int = 1): DataFrame = {
    require(frac >= 0.0 && frac <= 1.0, s"frac must be in [0,1], got $frac")
    val rankKey = md5(concat_ws(":", lit(salt), col(idCol).cast("string")))
    rankedWithinStrata(df, stratumCol, idCol, rankKey, subBuckets)
      // +1e-9 before floor: IEEE double n*frac can land a hair BELOW the
      // exact decimal product (0.29*100 = 28.999…97), which would keep one
      // row fewer than the documented floor(frac·n); the epsilon restores
      // the exact-decimal floor for any frac with < 9 decimal digits
      .filter(col("__rk") <= floor(col("__n") * frac + 1e-9))
      .drop("__rk", "__n")
  }

  /** Per-stratum md5 rank (`__rk`, 1-based) + stratum size (`__n`) behind
    * both samplers. `subBuckets <= 1` is the direct per-stratum window —
    * right whenever strata are small relative to an executor partition.
    * `subBuckets > 1` is the MEGA-STRATUM form (the refinement
    * [[stratifiedSample]]'s scaladoc names): the rank key's first 8 hex
    * chars — uniform, and monotone in the (rankKey, id) rank order because
    * lowercase-hex string order IS numeric order — split every stratum
    * into `subBuckets` sub-ranges, local ranks run in a window partitioned
    * by (stratum, sub-bucket) (parallel even when ONE stratum is the whole
    * corpus), and per-(stratum, bucket) counts fold into per-stratum
    * prefix offsets through a broadcast inequality self-join over the tiny
    * #strata × subBuckets aggregate — the exact two-phase shape of
    * [[graft.ops.ColumnOps.withRowIdxByKnownRange]], with the offsets and
    * totals per stratum instead of global. Ranks are IDENTICAL either way
    * (same total order, same tie-break), so the sampled set — and any
    * external replay — does not depend on the switch.
    */
  private def rankedWithinStrata(df: DataFrame, stratumCol: String,
                                 idCol: String, rankKey: Column,
                                 subBuckets: Int): DataFrame = {
    if (subBuckets <= 1) {
      val w = Window.partitionBy(col(stratumCol)).orderBy(rankKey, col(idCol))
      val cw = Window.partitionBy(col(stratumCol))
      df.withColumn("__rk", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(cw))
    } else {
      val sb = "__ss_sb"; val lrn = "__ss_lrn"; val off = "__ss_off"
      val parted = df.withColumn(sb,
        (conv(substring(rankKey, 1, 8), 16, 10).cast("long")
          * subBuckets / 4294967296L).cast("long"))
      val local = parted.withColumn(lrn, row_number().over(
        Window.partitionBy(col(stratumCol), col(sb))
          .orderBy(rankKey, col(idCol))).cast("long"))
      val counts = parted.groupBy(col(stratumCol), col(sb))
        .agg(count(lit(1)).as("__ss_cnt"))
      val offsets = counts.as("a")
        .join(broadcast(counts.as("b")),
          col(s"b.$stratumCol") === col(s"a.$stratumCol") &&
            col(s"b.$sb") < col(s"a.$sb"), "left")
        .groupBy(col(s"a.$stratumCol").as(stratumCol), col(s"a.$sb").as(sb))
        .agg(coalesce(sum(col("b.__ss_cnt")), lit(0L)).as(off))
      val totals = counts.groupBy(col(stratumCol))
        .agg(sum(col("__ss_cnt")).as("__n"))
      local.join(broadcast(offsets), Seq(stratumCol, sb))
        .join(broadcast(totals), Seq(stratumCol))
        .withColumn("__rk", col(off) + col(lrn))
        // the joins moved the stratum key to the front; restore the
        // caller's column order so both ranking forms are drop-in equal
        .select(df.columns.map(col) :+ col("__rk") :+ col("__n"): _*)
    }
  }

  /** Domain-mixture sampling: per-stratum target fractions (e.g. web 0.1,
    * code 0.5, wiki 1.0) applied EXACTLY — floor(frac_s · n_s) rows kept
    * per stratum, md5-ranked with a seed, fully deterministic. Strata
    * absent from `fracs` fall back to `defaultFrac`. This is the
    * "re-weight the corpus to a target domain distribution" step of a
    * pretraining pipeline, generalizing [[stratifiedSample]] from one
    * global fraction to a fraction per domain; the md5 rank makes every
    * run (and the DuckDB oracle replay) pick the identical rows.
    * Scale note: domains are few and LARGE — precisely the mega-stratum
    * regime — so production mixtures should pass `subBuckets > 1` (the
    * two-phase rank of [[rankedWithinStrata]], identical output); at the
    * sf scales benched the direct window is the right plan and stays the
    * default.
    */
  /** Cap on distinct strata for [[temperatureSample]]'s collected quota
    * table (languages/domains — metadata-scale by construction). */
  val MaxStrata = 100000

  /** Temperature-flattened mixture sampling (mT5, Xue et al. 2021 §3.1;
    * XLM-R, Conneau et al. 2020: sample languages ∝ (n_i/N)^α): allocate
    * per-stratum keep QUOTAS toward the temperature-α distribution
    * q_i ∝ n_i^α, then keep each stratum's md5-rank-smallest quota rows.
    * α = 1 reproduces the corpus distribution, α → 0 flattens toward
    * uniform (mT5 ships α = 0.3, XLM-R ≈ 0.43). High-resource strata above
    * their flattened share are TRIMMED; strata at/below it keep everything
    * (quotas are not redistributed — so the realized total is ≤ ⌊frac·N⌋).
    *
    * Replayability: quota arithmetic is integer end-to-end past ONE
    * per-stratum weight rounding — wq_i = round(n_i^α · 1e6) (long),
    * T = ⌊frac·N + ε⌋, quota_i = min(n_i, ⌊T·wq_i / Σwq⌋) by BigInt
    * division (T·wq can pass 2⁶³). The α ∈ {0, 0.5, 1} arms use exactly-
    * rounded primitives (sqrt IS correctly rounded in IEEE; pow is NOT
    * across libms), so the gate query pins α = 0.5; other α are engine-
    * deterministic but last-ulp libm-dependent.
    *
    * Scale shape: one #strata-row aggregate collected (the quota table —
    * metadata, capped at [[MaxStrata]]), quotas re-enter the plan as a map
    * literal, and ranking is the same per-stratum machinery as
    * [[stratifiedSample]] (pass `subBuckets > 1` in the mega-stratum
    * regime). Null strata have no quota and are dropped. */
  def temperatureSample(df: DataFrame, stratumCol: String, idCol: String,
                        alpha: Double = 0.5, frac: Double = 1.0,
                        salt: String = "graft",
                        subBuckets: Int = 1): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    require(frac >= 0.0 && frac <= 1.0, s"frac must be in [0,1], got $frac")
    val counts = df.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).cast("string").as("__s"))
      .agg(count(lit(1)).as("__cn"))
      .limit(MaxStrata + 1).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    require(counts.length <= MaxStrata,
      s"more than $MaxStrata distinct strata — not a mixture key")
    if (counts.isEmpty) return df.filter(lit(false))
    val n = counts.map(_._2).sum
    def weight(ni: Long): Double = alpha match {
      case 0.0 => 1.0
      case 0.5 => math.sqrt(ni.toDouble) // correctly rounded — replayable
      case 1.0 => ni.toDouble
      case a => math.pow(ni.toDouble, a)
    }
    val wq = counts.map { case (s, ni) =>
      s -> math.round(weight(ni) * 1e6) }.toMap
    val totW = wq.values.map(BigInt(_)).sum
    val t = math.floor(frac * n + 1e-9).toLong
    val quotas: Seq[(String, Long)] = counts.toSeq.map { case (s, ni) =>
      s -> math.min(ni, ((BigInt(t) * wq(s)) / totW).toLong)
    }.sortBy(_._1)
    val quotaCol = element_at(
      map(quotas.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
      col(stratumCol).cast("string"))
    val rankKey = md5(concat_ws(":", lit(salt), col(idCol).cast("string")))
    rankedWithinStrata(df, stratumCol, idCol, rankKey, subBuckets)
      .filter(col("__rk") <= quotaCol)
      .drop("__rk", "__n")
  }

  def mixtureSample(df: DataFrame, stratumCol: String, idCol: String,
                    fracs: Map[String, Double], defaultFrac: Double = 0.0,
                    salt: String = "graft", subBuckets: Int = 1): DataFrame = {
    (fracs.values ++ Seq(defaultFrac)).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fractions must be in [0,1], got $f"))
    val fracCol =
      if (fracs.isEmpty) lit(defaultFrac)
      else coalesce(
        element_at(
          map(fracs.toSeq.sortBy(_._1)
            .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*),
          col(stratumCol)),
        lit(defaultFrac))
    val rankKey = md5(concat_ws(":", lit(salt), col(idCol).cast("string")))
    rankedWithinStrata(df, stratumCol, idCol, rankKey, subBuckets)
      // same epsilon-before-floor as stratifiedSample: keeps the EXACT
      // decimal floor for non-dyadic fracs under double arithmetic
      .filter(col("__rk") <= floor(col("__n") * fracCol + 1e-9))
      .drop("__rk", "__n")
  }

  /** Token-budget keep verdicts: within each `groupCol` group (language,
    * domain, source), rows ranked by `priorityCol` DESC (tie-break
    * `idCol` ASC) are kept while the group's INCLUSIVE cumulative
    * `tokensCol` stays ≤ `budget` — the "fill each language's token
    * allowance with its best documents" step of a pretraining data mix
    * (rank by a quality/recency signal, cut at the budget; the first
    * over-budget document is DROPPED, not truncated — truncation belongs
    * to [[packSequences]]). Emits every input row plus `cum_tokens`
    * (inclusive cumulative) and `keep` — filter or mask downstream.
    *
    * `subBuckets ≤ 1`: per-group window cumsum — one hash partition on
    * the group key, right while groups are executor-sized. `subBuckets >
    * 1` is the MEGA-GROUP form ([[rankedWithinStrata]]'s shape with SUMS
    * instead of counts): global priority-quantile sub-buckets (monotone
    * in the priority order — bucket boundaries only shape the PLAN; the
    * kept set is the same total order either way), local window cumsums
    * per (group, bucket), per-(group, bucket) token totals folded into
    * prefix offsets through a broadcast inequality self-join over the
    * tiny #groups × subBuckets aggregate. Null priorities sort LAST
    * (desc_nulls_last) and never displace scored rows.
    *
    * Replayability: the cumsum is an integer sum in a deterministic total
    * order — `SUM(tokens) OVER (PARTITION BY g ORDER BY p DESC, id)`
    * replays it verbatim in any SQL engine. */
  def tokenBudgetKeep(df: DataFrame, groupCol: String, idCol: String,
                      priorityCol: String, tokensCol: String, budget: Long,
                      subBuckets: Int = 1): DataFrame = {
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    val cum =
      if (subBuckets <= 1) {
        val w = Window.partitionBy(col(groupCol))
          .orderBy(col(priorityCol).desc, col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn("cum_tokens", sum(col(tokensCol).cast("long")).over(w))
      } else {
        // bucket boundaries from global priority quantiles: bucket index
        // ASC == priority DESC, so the per-(group, bucket) offsets below
        // accumulate over strictly-higher-priority buckets
        val probs = (1 until subBuckets).map(_.toDouble / subBuckets).toArray
        val bounds = df.stat.approxQuantile(priorityCol, probs, 0.001)
        val sb = "__tb_sb"; val v = "__tb_v"; val inc = "__tb_inc"
        val off = "__tb_off"
        val bucket = bounds.foldLeft(lit(0)) { (acc, t) =>
          acc + when(col(priorityCol) < t, 1).otherwise(0) }
        val parted = df
          .withColumn(sb, when(col(priorityCol).isNull, lit(subBuckets))
            .otherwise(bucket))
          .withColumn(v, col(tokensCol).cast("long"))
        val local = parted.withColumn(inc,
          sum(col(v)).over(Window.partitionBy(col(groupCol), col(sb))
            .orderBy(col(priorityCol).desc, col(idCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val totals = parted.groupBy(col(groupCol), col(sb))
          .agg(sum(col(v)).as("__tb_tot"))
        // NULL-SAFE group equality throughout: a null group key is a real
        // group (the window form treats it as one partition), so the
        // offset fold and the fold-back join must match it too — plain
        // `===` would silently drop every null-group row from the output
        val offsets = totals.as("a")
          .join(broadcast(totals.as("b")),
            col(s"b.$groupCol") <=> col(s"a.$groupCol") &&
              col(s"b.$sb") < col(s"a.$sb"), "left")
          .groupBy(col(s"a.$groupCol").as("__tb_og"), col(s"a.$sb").as("__tb_osb"))
          .agg(coalesce(sum(col("b.__tb_tot")), lit(0L)).as(off))
        local.join(broadcast(offsets),
            col(groupCol) <=> col("__tb_og") && col(sb) === col("__tb_osb"))
          .withColumn("cum_tokens", col(off) + col(inc))
          .select(df.columns.map(col) :+ col("cum_tokens"): _*)
      }
    cum.withColumn("keep", col("cum_tokens") <= budget)
  }

  /** Kept rows only — [[tokenBudgetKeep]] filtered, `cum_tokens` kept for
    * auditing the fill level per group. */
  def tokenBudgetSelect(df: DataFrame, groupCol: String, idCol: String,
                        priorityCol: String, tokensCol: String, budget: Long,
                        subBuckets: Int = 1): DataFrame =
    tokenBudgetKeep(df, groupCol, idCol, priorityCol, tokensCol, budget,
      subBuckets)
      .filter(col("keep")).drop("keep")

  /** GPT-style concat-and-chunk sequence packing: documents laid end to end
    * in `idCol` order are cut into fixed `seqLen`-token training sequences.
    * Each document occupies the half-open token interval
    * `[token_offset, token_offset + n_tokens)` and touches the sequence
    * range `[first_seq, last_seq]` — exactly the mapping an LLM training
    * data loader materializes when it concatenates and chunks a shuffled
    * corpus. The whole computation is one distributed prefix-sum
    * ([[graft.ops.ColumnOps.withPrefixSum]]): per-bucket window cumsum +
    * broadcast bucket offsets — no single-partition window, no driver
    * state, so the layout of a 100 TB corpus is one shuffle of
    * (bucket, id, count) triples.
    *
    * Output: `(idCol, n_tokens, token_offset, first_seq, last_seq,
    * n_seqs)`; zero-token docs get `n_seqs = 0` and NULL first/last.
    * `bucket` must be monotone in `idCol` (e.g.
    * [[graft.ops.ColumnOps.rangeBucket]]).
    *
    * `baseOffset` shifts the whole layout by an already-packed token count
    * — the cross-batch coupling of the STREAMING sink
    * ([[graft.streaming.Streaming.packSequencesToSink]]): each batch
    * packs distributed, batches concatenate through this one scalar.
    */
  def packSequences(docs: DataFrame, idCol: String, tokens: Column,
                    seqLen: Long, bucket: Column,
                    baseOffset: Long = 0L): DataFrame =
    packSeq(docs.select(col(idCol), tokens.cast("long").as("n_tokens")),
      idCol, seqLen, bucket, baseOffset)

  /** [[packSequences]] with the range-bucket bound derived IN-PLAN: the
    * 1-row `max(idCol)` aggregate is broadcast-cross-joined onto the rows
    * and the bucket expression reads it per row — no eager driver-side
    * action anywhere in the build (callers that already know the id range
    * structurally should pass an explicit bucket instead and skip the tiny
    * extra aggregate job). Over a CACHED input the bound's aggregate was
    * measured to run once per reference, three times (AQE did not reuse
    * its exchange); pass an explicit bucket there too. */
  def packSequences(docs: DataFrame, idCol: String, tokens: Column,
                    seqLen: Long): DataFrame = {
    val withTok = docs.select(col(idCol), tokens.cast("long").as("n_tokens"))
    val np = withTok.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val upper = withTok.agg(
      (max(col(idCol)).cast("double") + 1.0).as("__pk_upper"))
    val bucket = when(col("__pk_upper") <= 0, lit(0L)).otherwise(
      least(floor(col(idCol).cast("double") * np / col("__pk_upper")),
        lit(np - 1L))).cast("long")
    packSeq(withTok.crossJoin(broadcast(upper)), idCol, seqLen, bucket, 0L)
      .drop("__pk_upper")
  }

  private def packSeq(withTok: DataFrame, idCol: String,
                      seqLen: Long, bucket: Column,
                      baseOffset: Long): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(baseOffset >= 0, s"baseOffset must be >= 0, got $baseOffset")
    graft.ops.ColumnOps
      .withPrefixSum(withTok, "token_offset", col("n_tokens"), bucket, col(idCol))
      .withColumn("token_offset", col("token_offset") + lit(baseOffset))
      .withColumn("first_seq",
        when(col("n_tokens") > 0, floor(col("token_offset") / seqLen)))
      .withColumn("last_seq",
        when(col("n_tokens") > 0,
          floor((col("token_offset") + col("n_tokens") - 1) / seqLen)))
      .withColumn("n_seqs",
        coalesce(col("last_seq") - col("first_seq") + 1, lit(0L)))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 table A1, the
    * repetition family) — ONE row-local pass, zero shuffle:
    *   - `n_lines`, `dup_line_frac`: fraction of non-blank lines that are
    *     exact duplicates of an earlier line;
    *   - `top_2gram_count`, `top_2gram_frac`: occurrence count of the most
    *     repeated word 2-gram and its fraction of all 2-grams.
    * A single Scala UDF computes all four in one tokenization (the earlier
    * higher-order-function form — sort + run-length `aggregate` over gram
    * hashes — evaluated its boxed lambda per element and re-tokenized per
    * signal; the UDF swap is the same trade `minhashSignatureUdf` made,
    * ~4× on the sf0.1 bench row). Semantics pinned to the replaying
    * oracle: lines split on \n and stripped of SPACES only (Spark/DuckDB
    * `trim` — not Java's `String.trim`), words split on `TextAnalysis.Ws`,
    * top gram = max MULTIPLICITY of a word 2-gram (what the sorted-run
    * form computed, hash collisions aside, and what the oracle's
    * unnest + GROUP BY + max(count) replays).
    */
  def repetitionSignals(text: Column): Seq[(String, Column)] = {
    val sig = repetitionSignalsUdf(text)
    Seq(
      "n_lines" -> sig.getField("_1"),
      "dup_line_frac" -> sig.getField("_2"),
      "top_2gram_count" -> sig.getField("_3"),
      "top_2gram_frac" -> sig.getField("_4"))
  }

  private lazy val repetitionSignalsUdf = udf { text: String =>
    if (text == null) (0L, 0.0, 0L, 0.0)
    else {
      // Spark's trim strips 0x20 only; Java's String.trim strips <= 0x20
      def stripSpaces(s: String): String = {
        var a = 0; var b = s.length
        while (a < b && s.charAt(a) == ' ') a += 1
        while (b > a && s.charAt(b - 1) == ' ') b -= 1
        s.substring(a, b)
      }
      val lines = text.split("\n", -1).iterator
        .map(stripSpaces).filter(_.nonEmpty).toArray
      val nLines = lines.length.toLong
      val dupLineFrac =
        if (nLines > 0) (nLines - lines.distinct.length).toDouble / nLines
        else 0.0
      val ws = text.split(TextAnalysis.Ws + "+", -1).filter(_.nonEmpty)
      val nGrams = math.max(ws.length - 1, 0)
      var top = 0L
      if (nGrams > 0) {
        val counts = new java.util.HashMap[String, Long](nGrams * 2)
        var i = 0
        while (i < nGrams) {
          // words contain no whitespace, so the space join is injective
          val g = ws(i) + " " + ws(i + 1)
          val c = counts.merge(g, 1L, (a, b) => a + b)
          if (c > top) top = c
          i += 1
        }
      }
      (nLines, dupLineFrac, top,
        if (nGrams > 0) top.toDouble / nGrams else 0.0)
    }
  }

  /** Overlapping word-window chunks of every document — the
    * retrieval/embedding prep step (RAG chunking): a 100 TB corpus is
    * chunked BEFORE embedding and ANN indexing, and chunk identity
    * `(doc id, chunk_idx)` is what attribution joins back on.
    *
    * Output: one row per chunk — `(idCol, chunk_idx, chunk_text,
    * n_words)`, chunk i covering words `[i·stride, i·stride + size)` with
    * `stride = size − overlap`; the last chunk is the (possibly short)
    * remainder, empty/whitespace docs produce no rows. Map-only: the
    * windows are a per-row higher-order expression over ONE tokenization
    * ([[bindArray]] — an inlined `ws` would re-split per chunk), the
    * explode never shuffles, and downstream ops see chunk rows exactly
    * like document rows. Deterministic and SQL-replayable (list slicing
    * + range). */
  def chunkWords(df: DataFrame, idCol: String, textCol: String,
                 size: Int, overlap: Int): DataFrame = {
    require(size >= 1, s"size must be >= 1, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size), got $overlap")
    val stride = size - overlap
    val chunks = bindArray(words(col(textCol))) { ws =>
      val n = org.apache.spark.sql.functions.size(ws)
      // max(ceil((n − overlap) / stride), 1) chunks for n > 0: the last
      // window starts at the largest i·stride < n − overlap (every chunk
      // adds ≥ stride new words; a trailing sliver shorter than that is
      // already covered by the previous window's tail); the floor of 1
      // covers 0 < n ≤ overlap, where the ceil alone would drop the doc
      // the null guard must be explicit: a null text gives ws = null and
      // n = null, and greatest/least IGNORE nulls — without it the
      // otherwise-branch manufactures one phantom null chunk
      val nChunks = when(n.isNull || n === 0, lit(0L))
        .otherwise(greatest(
          floor((n - lit(overlap) + lit(stride) - 1) / lit(stride))
            .cast("long"),
          lit(1L)))
      // sequence(0, nChunks−1) is invalid at nChunks = 0 (Spark infers a
      // NEGATIVE step for start > stop, yielding phantom [0,−1]): build
      // over max(nChunks−1, 0) and slice to exactly nChunks elements
      val idxs = slice(sequence(lit(0L), greatest(nChunks - 1L, lit(0L))),
        lit(1), nChunks.cast("int"))
      transform(idxs, i => struct(
        i.as("chunk_idx"),
        array_join(slice(ws, (i * stride + 1L).cast("int"), lit(size)), " ")
          .as("chunk_text"),
        least(lit(size.toLong), n.cast("long") - i * stride)
          .as("n_words")))
    }
    df.select(col(idCol), explode(chunks).as("__c"))
      .select(col(idCol), col("__c.chunk_idx"), col("__c.chunk_text"),
        col("__c.n_words"))
  }

  /** Corpus-wide duplicated-LINE removal — CCNet's paragraph-hash dedup
    * (Wenzek et al. 2020) at line granularity: navigation bars, cookie
    * banners, and license boilerplate repeat VERBATIM across thousands of
    * pages while each page's body is unique, so lines whose trimmed form
    * occurs more than `maxCopies` times corpus-wide are dropped from
    * every document and the text is rebuilt in line order.
    *
    * Output: `(idCol, text_clean, n_dropped_lines)` for EVERY input row
    * (null/empty texts yield `("", 0)`). Whitespace-only lines are
    * structural — never counted, never dropped.
    *
    * Scale shape: the count table is keyed by a 16-byte line digest
    * (map-side combined — the only corpus-sized aggregation), the verdict
    * join moves (id, pos, digest) rows, and the rebuild groups each doc's
    * own lines; full line TEXT rides only the explode and the final
    * reassembly, both of which are the output's own volume. */
  def dropDuplicatedLines(df: DataFrame, idCol: String, textCol: String,
                          maxCopies: Long): DataFrame = {
    require(maxCopies >= 1, s"maxCopies must be >= 1, got $maxCopies")
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n", -1))
        .as(Seq("__pos", "__line")))
      .withColumn("__t", trim(col("__line")))
    val counts = lines.filter(length(col("__t")) > 0)
      .groupBy(md5(col("__t")).as("__h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxCopies) // verdict table: only the dropped
    val kept = lines
      .join(counts, md5(col("__t")) === col("__h"), "left")
      .withColumn("__drop", col("__n").isNotNull && length(col("__t")) > 0)
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(!col("__drop"),
            struct(col("__pos"), col("__line"))))),
          s => s.getField("__line")), "\n").as("text_clean"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_dropped_lines"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_dropped_lines"), lit(0L)).as("n_dropped_lines"))
  }

  /** Snapshot delta between two corpus versions — the crawl-refresh
    * primitive: a monthly recrawl is mostly unchanged, and the pipeline
    * should re-embed/re-dedup/re-score ONLY the delta. Keyed by `idCol`
    * (URL/doc id), change detection by content digest, never by content
    * comparison: the join carries (id, 16-byte md5) rows, documents stay
    * in their partitions. Output: `(idCol, status)` with status ∈
    * `added` (id only in `newDf`) | `removed` (only in `oldDf`) |
    * `changed` (both, digests differ) | `unchanged`. Null text digests
    * to null; two null texts compare UNCHANGED (null-safe equality) —
    * a doc flipping between null and non-null text is `changed`. `idCol`
    * must be unique WITHIN each snapshot (URL/doc primary key — the
    * crawl-table invariant); duplicate ids would row-multiply through
    * the join. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    // presence must be an explicit flag: a null DIGEST is ambiguous
    // between "row absent" and "text null", and the full-outer join
    // nulls both the same way
    def digested(df: DataFrame, dig: String, pres: String) =
      df.select(col(idCol), md5(col(textCol)).as(dig), lit(true).as(pres))
    digested(oldDf, "__od", "__op")
      .join(digested(newDf, "__nd", "__np"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__op").isNull, lit("added"))
          .when(col("__np").isNull, lit("removed"))
          .when(col("__od").eqNullSafe(col("__nd")), lit("unchanged"))
          .otherwise(lit("changed"))
          .as("status"))
  }

  /** Deterministic per-epoch shuffle + training-shard assignment — the
    * export step between curation and the trainer: every epoch needs a
    * fresh, uncorrelated, REPRODUCIBLE global order, sliced into shards a
    * data loader streams independently.
    *
    * Global-sort-free by construction: `shard` is the epoch-salted
    * replayable hash mod `numShards` (map-only), and `pos` ranks only
    * WITHIN a shard — numShards independent windows, one shuffle on the
    * shard key, no corpus-wide ordering anywhere. At 100 TB you size
    * numShards so a shard fits an executor sort (10⁴–10⁵ shards); the
    * hash is uniform, so shard skew is binomial-tight. Re-salting by
    * epoch decorrelates successive epochs' orders (the "reshuffle every
    * epoch" trainers expect), and the whole layout is a pure function of
    * (id set, epoch, numShards): any run, any cluster, any partitioning
    * reproduces byte-identical shards — what makes a training run's data
    * order auditable and resumable. The chr(31) salt separator keeps
    * (epoch, id) images injective (epoch 1 + id "23" vs epoch 12 + id
    * "3"); hash ties (2⁻⁶⁰) break by id. Ids are assumed non-null unique
    * keys (as everywhere in the engine): null ids all hash to the
    * salt-only image (concat_ws skips nulls) and would pile into one
    * shard cell. */
  /** GROUP-AWARE train/test split (round 18): every GROUP (source site,
    * domain, crawl host...) lands wholly in train or test, so
    * near-duplicate documents from one source can never straddle the
    * boundary — the evaluation-leakage mode a ROW-level split
    * ([[graft.spec.AssignTrainTestSplitOp]]) cannot prevent, and the
    * standard discipline for web corpora (dedup-aware splits). Exact
    * count at the group level: groups rank by the replayable md5 of
    * (seed, group) and the first ceil(testNum·G/testDen) become test
    * (rank·den < num·G) — a pure function of the group SET, independent
    * of row order, partitioning, and per-group row counts.
    *
    * Scale shape: the rank runs over the DISTINCT-group table only (one
    * shuffle of group-cardinality rows — domains, not documents), and is
    * the engine's scale-safe TWO-PHASE rank (round 21: the same
    * precedent as AssignTrainTestSplitOp / UmapLayout — per-bucket local
    * rank + broadcast prefix-sum offsets), never a single-partition
    * global window: at 10⁸ crawl hosts the old `row_number() OVER
    * (ORDER BY …)` form sorted the whole group universe on one executor.
    * `__h` is uniform on [0, 2⁶⁰) by construction (md5 prefix), so the
    * range bucket is a pure plan expression — no sampling pass — and the
    * two-phase index reproduces the IDENTICAL total (h, g) order, hence
    * identical split assignments. The verdict joins back on the group
    * key, broadcast when small. Output: the input plus `is_test`. */
  def groupAwareSplit(df: DataFrame, groupCol: String,
                      testNum: Long, testDen: Long,
                      seed: Long = 19190115L): DataFrame = {
    require(testDen >= 1, s"testDen must be >= 1, got $testDen")
    require(testNum >= 0 && testNum <= testDen,
      s"testNum must be in [0, $testDen], got $testNum")
    val sep = 31.toChar.toString
    val groups = df.select(col(groupCol).cast("string").as("__g")).distinct()
    val hashed = groups
      .withColumn("__h", Dsir.md5Bucket60(concat_ws(sep,
        lit("gsplit"), lit(seed), col("__g"))))
    val ranked = graft.ops.ColumnOps.withRowIdxByKnownRange(hashed,
        graft.ops.ColumnOps.rangeBucket(hashed, col("__h"),
          1.152921504606847e18 /* 2^60: md5Bucket60's range */),
        col("__h"), col("__g"))
      .withColumnRenamed(graft.ops.ColumnOps.RowIdx, "__rk")
    val flagged = ranked
      .crossJoin(broadcast(groups.agg(count(lit(1)).as("__ng"))))
      .select(col("__g"),
        (col("__rk") * testDen < lit(testNum) * col("__ng")).as("is_test"))
    // null-safe join: a NULL group is a legitimate group (it hashes as
    // the empty concat_ws image) and must get a deterministic side — an
    // inner `===` would silently DROP null-group rows from a split
    df.join(flagged, df(groupCol).cast("string") <=> flagged("__g"))
      .drop("__g")
  }

  /** LENGTH-BUCKETED BATCH ASSEMBLY (round 18): group documents by
    * token-length bucket and form fixed-size training batches within each
    * bucket — the standard padding-efficiency layout (dynamic batching /
    * bucketing; e.g. the bucketed mini-batch schemes of fairseq and
    * tensor2tensor): a batch is padded to ITS OWN max length, so batching
    * similar lengths together cuts the pad-token waste that
    * arrival-order batching pays.
    *
    * Deterministic layout: bucket = n_tokens / bucketWidth; within a
    * bucket, docs order by (n_tokens, id) and batch = rank / batchSize —
    * a pure function of the corpus. Per doc: `(idCol, n_tokens, bucket,
    * batch_idx, pos_in_batch, batch_max, pad)` where `batch_max` is the
    * batch's padded length and `pad = batch_max − n_tokens` the doc's
    * waste. The LAST batch of a bucket may be short (its `pos_in_batch`
    * just stops early) — callers that need exact batch shapes drop it.
    *
    * Scale shape: ONE shuffle on the bucket key; each bucket is an
    * independent window pass (ranks + per-batch max) — the
    * [[epochShards]] cost class; no corpus-wide window anywhere. */
  def lengthBucketBatches(df: DataFrame, idCol: String, tokens: Column,
                          bucketWidth: Long, batchSize: Int): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("n_tokens"), col(idCol))
    val wb = Window.partitionBy(col("bucket"), col("batch_idx"))
    df.select(col(idCol), tokens.cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
      .withColumn("__rk", row_number().over(w).cast("long") - 1L)
      .withColumn("batch_idx", expr(s"__rk div $batchSize"))
      .withColumn("pos_in_batch", col("__rk") % batchSize)
      .withColumn("batch_max", max(col("n_tokens")).over(wb))
      .withColumn("pad", col("batch_max") - col("n_tokens"))
      .drop("__rk")
  }

  def epochShards(df: DataFrame, idCol: String, epoch: Long,
                  numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val sep = 31.toChar.toString
    val h = Dsir.md5Bucket60(concat_ws(sep,
      lit("epoch"), lit(epoch), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__eh"), col(idCol))
    df.withColumn("__eh", h)
      .withColumn("shard", col("__eh") % numShards)
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .drop("__eh")
  }

  /** [[epochShards]] fused with per-shard sequence packing — the full
    * export layout a trainer's data loader consumes: each shard is an
    * independent token stream, every doc gets its within-shard `pos`,
    * `token_offset`, and `[first_seq, last_seq]` range at `seqLen`, in the
    * shard's deterministic (hash, id) order. Same scale shape as
    * [[epochShards]]: one shuffle on the shard key, numShards independent
    * window passes, nothing corpus-wide.
    *
    * `baseRows`/`baseTokens` shift each shard's ranks and token stream by
    * already-exported counts — the cross-batch coupling of the STREAMING
    * export ([[graft.streaming.Streaming.shardedExportToSink]]): a batch
    * appends to every shard where its predecessors left off, so shard
    * files concatenate into one contiguous layout. Batch semantics =
    * both maps empty. Output: `(idCol, shard, pos, n_tokens,
    * token_offset, first_seq, last_seq, n_seqs)`; zero-token docs keep
    * their slot (`n_seqs = 0`, NULL first/last — the packSequences
    * contract). */
  def epochShardPack(df: DataFrame, idCol: String, tokens: Column,
                     epoch: Long, numShards: Int, seqLen: Long,
                     baseRows: Map[Long, Long] = Map.empty,
                     baseTokens: Map[Long, Long] = Map.empty): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val sep = 31.toChar.toString
    val h = Dsir.md5Bucket60(concat_ws(sep,
      lit("epoch"), lit(epoch), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__eh"), col(idCol))
    def base(m: Map[Long, Long]): Column =
      if (m.isEmpty) lit(0L)
      else coalesce(element_at(
        typedLit(m), col("shard")), lit(0L))
    df.withColumn("__eh", h)
      .withColumn("shard", col("__eh") % numShards)
      .withColumn("n_tokens", tokens.cast("long"))
      .withColumn("pos",
        row_number().over(w).cast("long") - 1L + base(baseRows))
      .withColumn("token_offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          + base(baseTokens))
      .withColumn("first_seq",
        when(col("n_tokens") > 0, floor(col("token_offset") / seqLen)))
      .withColumn("last_seq",
        when(col("n_tokens") > 0,
          floor((col("token_offset") + col("n_tokens") - 1) / seqLen)))
      .withColumn("n_seqs",
        coalesce(col("last_seq") - col("first_seq") + 1, lit(0L)))
      .select(col(idCol), col("shard"), col("pos"), col("n_tokens"),
        col("token_offset"), col("first_seq"), col("last_seq"),
        col("n_seqs"))
  }
}
