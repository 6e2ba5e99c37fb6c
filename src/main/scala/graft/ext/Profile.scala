package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus profiling at 100 TB: per-group statistics a data card needs —
  * doc/token/char totals and DISTINCT counts — without a corpus-wide
  * distinct shuffle.
  *
  * The distinct counter is a KMV (k-minimum-values) sketch (Bar-Yossef et
  * al. 2002; the theta-sketch bottom-k special case): hash every value to
  * a 60-bit uniform, keep the k smallest DISTINCT hashes, estimate
  * D̂ = (k−1)·2⁶⁰ / h₍ₖ₎. Chosen over HyperLogLog deliberately:
  *
  *  - DETERMINISTIC: the sketch is a pure function of the value SET (no
  *    insertion-order or partitioning dependence), so the driver's DuckDB
  *    oracle replays it bit-for-bit (`ORDER BY hash LIMIT k` over distinct
  *    hashes) — an HLL register array is not reasonably SQL-replayable.
  *  - MERGEABLE: partial sketches union by merging bounded arrays — the
  *    aggregate runs map-side (ObjectHashAggregate partials), and the
  *    shuffle carries ≤ k longs per (group, partition) instead of every
  *    distinct value. Same asymptotics as HLL for the shuffle.
  *  - EXACT below k: a group with < k distinct values reports its true
  *    distinct count (the sketch IS the distinct set).
  *
  * The hash is [[Dsir.md5Bucket60]] — the engine-wide replayable 60-bit
  * md5 prefix (DuckDB: `CAST('0x'||substr(md5(v),1,15) AS BIGINT)`).
  * Values are hashed via their canonical STRING image; collisions in a
  * 2⁶⁰ space are negligible at any real group cardinality and — because
  * engine and oracle hash identically — can never produce a gate mismatch.
  */
object Profile {

  /** Hash space size: md5Bucket60 is uniform on [0, 2⁶⁰). */
  val HashSpace: Long = 1L << 60

  /** Bounded sorted-distinct-insert: keep the ≤ k smallest distinct longs
    * of `b ∪ {h}`. O(log k) reject once the buffer is full (the steady
    * state — almost every row lands here), O(k) copy on accept. */
  private def kmvInsert(b: Array[Long], h: Long, k: Int): Array[Long] = {
    val pos = java.util.Arrays.binarySearch(b, h)
    if (pos >= 0) b // already present
    else {
      val ins = -pos - 1
      if (b.length >= k && ins >= k) b // not among the k smallest
      else {
        val n = math.min(b.length + 1, k)
        val out = new Array[Long](n)
        System.arraycopy(b, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(b, ins, out, ins + 1, n - ins - 1)
        out
      }
    }
  }

  /** KMV sketch aggregator over pre-hashed longs: buffer = the sorted
    * array of the ≤ k smallest distinct hashes seen. Commutative and
    * idempotent by construction (set semantics), so partial aggregation
    * and AQE re-partitioning cannot change the result. */
  final class KmvAggregator(k: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], h: Long): Array[Long] =
      if (h < 0L) b // null sentinel from kmvAgg — skipped, see below
      else kmvInsert(b, h, k)
    def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      mergeKmv(a, b, k)
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: ExpressionEncoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    def outputEncoder: ExpressionEncoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** The sketch as an aggregate Column over a pre-hashed long column.
    * NULL inputs (a null value hashes to null) are SKIPPED — the sketch
    * counts distinct non-null values, matching `count(DISTINCT x)` /
    * `sum()` null semantics and the DuckDB oracle's `WHERE x IS NOT NULL`
    * replay. Mechanically: the hash space is [0, 2⁶⁰), so nulls coalesce
    * to −1 before the primitive-Long input encoder (which would otherwise
    * throw on a null in a non-nullable field) and `reduce` ignores
    * negatives. */
  def kmvAgg(hashed: Column, k: Int): Column =
    udaf(new KmvAggregator(k)).apply(coalesce(hashed, lit(-1L)))

  /** Union of two sketches at size k — the bounded merge the
    * aggregator's partials use (set semantics: exact under any
    * partitioning). */
  def mergeKmv(a: Array[Long], b: Array[Long], k: Int): Array[Long] = {
    val (big, small) = if (a.length >= b.length) (a, b) else (b, a)
    var r = big; var i = 0
    while (i < small.length) { r = kmvInsert(r, small(i), k); i += 1 }
    r
  }

  /** Replayable value hash: 60-bit md5 prefix of the canonical string
    * image ([[Dsir.md5Bucket60]]). */
  def valueHash60(value: Column): Column =
    Dsir.md5Bucket60(value.cast("string"))

  /** Distinct-count estimate from a KMV sketch array: exact size below k,
    * else ⌊(k−1)·2⁶⁰ / h₍ₖ₎⌋ in decimal integer arithmetic ((k−1)·2⁶⁰
    * overflows a long; DuckDB replays with HUGEINT `//`). */
  def kmvEstimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("long"))
      .otherwise(floor(
        lit((k - 1).toLong).cast(DecimalType(38, 0)) * lit(HashSpace)
          / element_at(sketch, k)).cast("long"))

  /** Per-group distinct-count estimate of `valueCol`: one map-side
    * combinable aggregate; shuffle carries ≤ k longs per group partial.
    * Output: groupCol, n_rows, est_distinct. */
  def distinctEstimate(df: DataFrame, groupCol: String, valueCol: String,
                       k: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        kmvAgg(valueHash60(col(valueCol)), k).as("__kmv"))
      .withColumn("est_distinct", kmvEstimate(col("__kmv"), k))
      .drop("__kmv")

  /** EXACT per-group top-`n` most frequent values — the "top sources per
    * language" data-card row. Two-phase: the corpus collapses to a
    * (group, value) count table (map-side combinable — the only
    * corpus-sized pass), then a per-group rank window runs over that
    * table alone. Deterministic: ties break by value ascending, so the
    * result is a pure function of the multiset and replays in SQL.
    * Output (group, value, cnt, rank ≤ n). */
  def topValues(df: DataFrame, groupCol: String, valueCol: String,
                n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val counts = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("cnt").desc, col(valueCol))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
  }

  /** EXACT per-group token-length quantiles — the "p50/p90 document
    * length" rows of a data card. Quantile q = the value at 1-indexed rank
    * ⌈q·n⌉ of the sorted lengths (the classic lower-value definition:
    * integer, deterministic, and SQL-replayable — no interpolation).
    *
    * Scale shape: lengths collapse to a (group, length) COUNT table first
    * (map-side combinable; bounded by #groups × #distinct lengths, which
    * is metadata next to the corpus), the cumulative walk and the rank
    * picks run over that table only — the corpus is scanned once and
    * never shuffled. This is the exact-quantile two-phase shape the CCNet
    * rank machinery uses, specialized to integer lengths; an approximate
    * sketch is unnecessary when the value domain is this small. */
  def lengthQuantiles(df: DataFrame, groupCol: String, textCol: String,
                      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    val counts = df
      .select(col(groupCol), TextAnalysis.tokenCount(col(textCol))
        .cast("long").as("__len"))
      .groupBy(col(groupCol), col("__len"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__len"))
    val cum = counts.withColumn("__cum", sum(col("__c")).over(w))
    val tot = counts.groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_docs"))
    val picks = qs.map { q =>
      min(when(col("__cum") >= ceil(lit(q) * col("n_docs")), col("__len")))
        .as(s"p${math.round(q * 100)}")
    }
    cum.join(tot, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("n_docs")).as("n_docs"), picks: _*)
  }

  /** The data-card aggregates with the RAW sketch still attached — what
    * [[corpusReport]] finalizes and the streaming twin carries as
    * mergeable per-group state. */
  def corpusAggregates(docs: DataFrame, groupCol: String, textCol: String,
                       k: Int): DataFrame =
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        kmvAgg(valueHash60(col(textCol)), k).as("__kmv"))

  /** Per-group data-card row over a document table: doc/token/char totals
    * (exact, map-side combinable sums) + the KMV distinct-text estimate —
    * the whole report is ONE aggregation pass over the corpus, and every
    * number is an integer a SQL oracle reproduces exactly. */
  def corpusReport(docs: DataFrame, groupCol: String, textCol: String,
                   k: Int = 64): DataFrame =
    corpusAggregates(docs, groupCol, textCol, k)
      .withColumn("est_distinct_texts", kmvEstimate(col("__kmv"), k))
      .drop("__kmv")

  // ----------------------------------------------------------------------
  // Count-Min sketch (Cormode & Muthukrishnan 2005): approximate
  // per-value frequencies over a stream whose distinct-value set is too
  // large to count exactly. Complements KMV (distinct COUNT) with
  // per-value COUNTS — the data-card pair.
  //
  // Spark-first shape: the depth×width counter matrix IS an aggregate
  // table (row, bucket, cnt) — one groupBy whose key space is bounded by
  // depth·width, so the map-side combine collapses every partition to
  // ≤ depth·width partial rows and the shuffle carries the SKETCH, not
  // the values (the KMV story, applied to counts). No custom Aggregator
  // needed: the monoid is `sum`, which also makes the streaming twin a
  // plain stateful aggregation. Deterministic (pure function of the value
  // multiset — [[Dsir.md5Bucket60]] row-salted hashes, no RNG), so the
  // DuckDB oracle replays every counter exactly.
  // ----------------------------------------------------------------------

  /** Row-`r` bucket of a value: the engine-wide replayable 60-bit md5
    * hash, salted by the row index (DuckDB:
    * `CAST('0x'||substr(md5('cms'||r||chr(31)||v),1,15) AS BIGINT) % width`).
    * chr(31) keeps `("cms1", "0x")`-style salt/value concatenation
    * collisions impossible. */
  def cmsBucket(value: Column, row: Int, width: Int): Column =
    Dsir.md5Bucket60(
      concat(lit(s"cms$row\u001f"), value.cast("string"))) % width

  /** Build the sketch: (row, bucket, cnt) for every occupied counter.
    * NULL values are skipped (the sketch counts non-null occurrences,
    * matching [[kmvAgg]]'s null semantics). Rows with the same value hit
    * `depth` counters — the posexplode is map-side, and the aggregate's
    * key space is ≤ depth·width whatever the input cardinality. */
  def cmsSketch(df: DataFrame, valueCol: String,
                depth: Int, width: Int): DataFrame = {
    require(depth >= 1, s"depth must be >= 1, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    df.filter(col(valueCol).isNotNull)
      .select(posexplode(array((0 until depth).map(r =>
        cmsBucket(col(valueCol), r, width)): _*)).as(Seq("row", "bucket")))
      .groupBy("row", "bucket").agg(count(lit(1)).as("cnt"))
  }

  // ----------------------------------------------------------------------
  // Bloom filter (Bloom 1970): set membership in O(1) bits per element —
  // the cross-snapshot dedup pre-filter. At 100 TB the reference id/text
  // set is itself huge; its Bloom image is a few MB that BROADCASTS, so
  // the probe side never joins the reference — it tests k bits per row,
  // map-only, and only the (tiny) surviving candidate set pays the exact
  // verification join. One-sided like CMS: no false negatives ever;
  // false-positive rate ≈ (1 − e^(−kn/m))^k, a size/precision dial.
  // Deterministic md5-salted positions ⇒ the DuckDB oracle replays every
  // bit and every verdict.
  // ----------------------------------------------------------------------

  /** The k bit positions of a value (replayable: row-salted md5 mod m,
    * the [[cmsBucket]] convention). */
  def bloomPositions(value: Column, numHashes: Int, numBits: Int): Column =
    array((0 until numHashes).map(i =>
      Dsir.md5Bucket60(concat(
        lit("bloom" + i + 31.toChar), value.cast("string"))) % numBits): _*)

  /** Build the filter as a packed word array — a BOUNDED driver collect
    * (≤ numBits set-bit rows after the distinct, the centroid-table
    * class: the whole point is that numBits ≪ reference cardinality).
    * The heavy half — hashing the reference and deduplicating bit
    * positions — is distributed; only the ≤ m/64-long bitmap lands on
    * the driver, to ride into probe plans as a literal. */
  def bloomBitmap(df: DataFrame, valueCol: String,
                  numHashes: Int, numBits: Int): Array[Long] = {
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    require(numBits >= 64 && numBits % 64 == 0,
      s"numBits must be a positive multiple of 64, got $numBits")
    val spark = df.sparkSession
    import spark.implicits._
    val bits = df.filter(col(valueCol).isNotNull)
      .select(explode(
        bloomPositions(col(valueCol), numHashes, numBits)).as("bit"))
      .distinct().as[Long].collect()
    val words = new Array[Long](numBits / 64)
    bits.foreach(b => words(b.toInt / 64) |= 1L << (b.toInt % 64))
    words
  }

  /** Map-only membership probe against a built bitmap: the word array is
    * a plan LITERAL (the broadcast-dim idiom for a value that fits in
    * every task), each hash tests one bit via element_at + a variable
    * shift — k O(1) codegen'd tests per row, no join, no shuffle. */
  def bloomMightContain(words: Array[Long], value: Column,
                        numHashes: Int, numBits: Int): Column = {
    require(words.length * 64 == numBits,
      s"bitmap has ${words.length * 64} bits, expected $numBits")
    val w = typedlit(words.toSeq)
    (0 until numHashes).map { i =>
      val h = Dsir.md5Bucket60(concat(
        lit("bloom" + i + 31.toChar), value.cast("string"))) % numBits
      // shiftrightUNSIGNED (an arithmetic shift sign-extends bit 63) and
      // bitwiseAND, not `% 2` (Spark % keeps the dividend's sign: a
      // negative word at shift 0 gives −1 % 2 = −1, failing === 1)
      call_function("shiftrightunsigned",
        element_at(w, (h / 64).cast("int") + 1),
        (h % 64).cast("int")).bitwiseAND(lit(1L)) === 1
    }.reduce(_ && _)
  }

  /** Point estimates for `items`: min over rows of the counter at
    * (r, h_r(item)) — the classic one-sided overestimate
    * (est ≥ true; est ≤ true + εN w.h.p. at width = ⌈e/ε⌉). The sketch
    * is ≤ depth·width rows — broadcast, so probing any number of items
    * is map-side. Items absent from the sketch's stream report the
    * collision mass in their buckets (0 if the buckets are empty). */
  def cmsEstimate(sketch: DataFrame, items: DataFrame, itemCol: String,
                  depth: Int, width: Int): DataFrame =
    items.select(col(itemCol),
        posexplode(array((0 until depth).map(r =>
          cmsBucket(col(itemCol), r, width)): _*)).as(Seq("row", "bucket")))
      .join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
}
