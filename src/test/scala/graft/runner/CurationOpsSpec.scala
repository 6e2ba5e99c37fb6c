package graft.runner

import graft.SparkTestBase
import graft.spec._

/** The scale-extension curation ops as spec-layer citizens: redaction,
  * exact dedup, contamination flags, stratified sampling — materialized
  * through the memoizing runner, with positional re-indexing and graph
  * serde checked like any reference op.
  */
class CurationOpsSpec extends SparkTestBase {

  private def newRunner() = new LocalSparkRunner(spark, newStoreDir())

  private val corpus = LoadInlineJsonDatasetOp(Map(
    "text" -> Seq(
      "alpha beta gamma delta epsilon",   // 0
      "unique words here only",           // 1
      "alpha beta gamma delta epsilon",   // 2: exact dup of 0
      "contact me at bob@x.io please",    // 3
      "alpha beta gamma delta epsilon"),  // 4: exact dup of 0
    "lang" -> Seq("en", "en", "en", "fr", "fr")))

  test("RedactPIIColumnOp: ephemeral, fused, redacts") {
    val r = newRunner()
    val red = RedactPIIColumnOp(SelectTextColumnOp(corpus, "text"))
    assert(red.isEphemeral)
    val vals = r.toFrame(red).orderBy("__row_idx")
      .collect().map(_.getAs[String]("value"))
    assert(vals(3) == "contact me at <EMAIL> please")
    assert(vals(0) == "alpha beta gamma delta epsilon")
    // ephemeral: nothing persisted for the redaction itself
    assert(!r.isDone(red))
  }

  test("DropExactDuplicatesOp: first copy survives, contiguous re-index") {
    val r = newRunner()
    val dedup = DropExactDuplicatesOp(corpus, SelectTextColumnOp(corpus, "text"))
    val rows = r.toFrame(dedup).orderBy("__row_idx").collect()
    assert(rows.map(_.getAs[String]("text")).toSeq == Seq(
      "alpha beta gamma delta epsilon",
      "unique words here only",
      "contact me at bob@x.io please"))
    assert(rows.map(_.getAs[Long]("__row_idx")).toSeq == Seq(0L, 1L, 2L))
    assert(r.lengthOf(dedup) == 3L)
    // memoized: second pull is a store read, not a recompute
    assert(r.hasResult(dedup))
  }

  test("ContaminationFlagOp: overlap vs benchmark column, threshold") {
    val r = newRunner()
    val bench = LoadInlineJsonDatasetOp(Map(
      "text" -> Seq("beta gamma delta")))
    val flag = ContaminationFlagOp(
      SelectTextColumnOp(corpus, "text"),
      SelectTextColumnOp(bench, "text"), n = 3L)
    val vals = r.toFrame(flag).orderBy("__row_idx")
      .collect().map(_.getAs[Boolean]("value"))
    // docs 0/2/4 contain "beta gamma delta"; 1 and 3 do not
    assert(vals.toSeq == Seq(true, false, true, false, true))
    // length is structural — no count job needed
    assert(r.lengthOf(flag) == 5L)
    val strict = ContaminationFlagOp(
      SelectTextColumnOp(corpus, "text"),
      SelectTextColumnOp(bench, "text"), n = 3L, minOverlap = 2L)
    assert(r.toFrame(strict).orderBy("__row_idx")
      .collect().map(_.getAs[Boolean]("value")).toSeq ==
      Seq(false, false, false, false, false))
  }

  test("StratifiedSampleOp: exact per-stratum counts, deterministic, re-indexed") {
    val r = newRunner()
    val big = LoadInlineJsonDatasetOp(Map(
      "v" -> (0 until 100).map(_.toString),
      "lang" -> (0 until 100).map(i => if (i < 60) "en" else "fr")))
    val samp = StratifiedSampleOp(big,
      SelectCategoricalColumnOp(big, "lang"), frac = 0.25)
    val rows = r.toFrame(samp).orderBy("__row_idx").collect()
    val byLang = rows.groupBy(_.getAs[String]("lang")).view.mapValues(_.length)
    assert(byLang.toMap == Map("en" -> 15, "fr" -> 10))
    // contiguous positional re-index
    assert(rows.map(_.getAs[Long]("__row_idx")).toSeq == (0L until 25L))
    // deterministic across a fresh runner (identity = spec, not session)
    val r2 = new LocalSparkRunner(spark, newStoreDir())
    val again = r2.toFrame(StratifiedSampleOp(big,
      SelectCategoricalColumnOp(big, "lang"), frac = 0.25))
      .orderBy("__row_idx").collect().map(_.getAs[String]("v")).toSeq
    assert(again == rows.map(_.getAs[String]("v")).toSeq)
    // different salt → different rows, same counts
    val salted = r.toFrame(StratifiedSampleOp(big,
      SelectCategoricalColumnOp(big, "lang"), frac = 0.25, salt = "other"))
      .collect()
    assert(salted.length == 25)
    assert(salted.map(_.getAs[String]("v")).toSeq != again)
  }

  // one 100-row stratum: IEEE 100 × 0.29 = 28.999999999999996 and
  // 100 × 0.57 = 56.99999999999999, one row short of the documented floor
  private val oneStratum = LoadInlineJsonDatasetOp(Map(
    "v" -> (0 until 100).map(_.toString),
    "lang" -> Seq.fill(100)("en")))

  /** `v` of the dataset rows at the row indexes `kept` holds. */
  private def vsAt(r: LocalSparkRunner, kept: org.apache.spark.sql.DataFrame) =
    r.toFrame(oneStratum).join(kept.select("__row_idx"), "__row_idx")
      .collect().map(_.getAs[String]("v")).toSet

  test("StratifiedSampleOp: floor(frac·n) for a non-dyadic frac, the Corpus kernel's rows") {
    val r = newRunner()
    val lang = SelectCategoricalColumnOp(oneStratum, "lang")
    val kept = r.toFrame(StratifiedSampleOp(oneStratum, lang, frac = 0.29))
      .collect().map(_.getAs[String]("v")).toSet
    assert(kept.size == 29)
    assert(kept == vsAt(r, graft.ext.Corpus.stratifiedSample(
      r.toFrame(lang), "value", "__row_idx", 0.29, "graft")))
  }

  test("MixtureSampleOp: floor(frac·n) for a non-dyadic frac, the Corpus kernel's rows") {
    val r = newRunner()
    val lang = SelectCategoricalColumnOp(oneStratum, "lang")
    val kept = r.toFrame(MixtureSampleOp(oneStratum, lang, Map("en" -> 0.57)))
      .collect().map(_.getAs[String]("v")).toSet
    assert(kept.size == 57)
    assert(kept == vsAt(r, graft.ext.Corpus.mixtureSample(
      r.toFrame(lang), "value", "__row_idx", Map("en" -> 0.57), 0.0, "graft")))
  }

  test("spec validation errors") {
    intercept[IllegalArgumentException] {
      StratifiedSampleOp(corpus, SelectCategoricalColumnOp(corpus, "lang"), 1.5)
    }
    intercept[IllegalArgumentException] {
      ContaminationFlagOp(SelectTextColumnOp(corpus, "text"),
        SelectTextColumnOp(corpus, "text"), n = 0L)
    }
  }

  test("graph serde round-trips the curation ops with stable uuids") {
    val dedup = DropExactDuplicatesOp(corpus, SelectTextColumnOp(corpus, "text"))
    val samp = StratifiedSampleOp(dedup,
      SelectCategoricalColumnOp(dedup, "lang"), frac = 0.5, salt = "s1")
    val flag = ContaminationFlagOp(
      RedactPIIColumnOp(SelectTextColumnOp(samp, "text")),
      SelectTextColumnOp(corpus, "text"), n = 4L, minOverlap = 2L)
    val back = Graph.deserialize(Graph.serialize(flag)).last
    assert(back == flag)
    assert(back.uuid == flag.uuid)
  }

  test("LmPerplexityOp: self-fit scores repeated docs lower; serde + store") {
    val r = newRunner()
    val text = SelectTextColumnOp(corpus, "text")
    val lm = LmPerplexityOp(text, text)
    val rows = r.toFrame(lm).orderBy("__row_idx").collect()
    assert(rows.length == 5)
    val ppl = rows.map(_.getAs[Double]("value"))
    // the thrice-repeated doc is more typical of the corpus than the
    // singletons → strictly lower perplexity
    assert(ppl(0) < ppl(1) && ppl(0) < ppl(3))
    assert(ppl(0) == ppl(2) && ppl(0) == ppl(4))
    assert(r.hasResult(lm), "non-ephemeral: the scored column persists")
    val back = Graph.deserialize(Graph.serialize(lm)).last
    assert(back == lm && back.uuid == lm.uuid)
  }

  test("DsirSelectOp: masked target pulls its lookalikes; k cuts; serde") {
    val r = newRunner()
    val text = SelectTextColumnOp(corpus, "text")
    val isEn = CategoryToBooleanOp(
      SelectCategoricalColumnOp(corpus, "lang"), Some(Seq("en")))
    val sel = DsirSelectOp(text,
      SelectTextColumnOp(MaskRowsOp(corpus, isEn), "text"), m = 512L, k = 3L)
    val rows = r.toFrame(sel).orderBy(org.apache.spark.sql.functions
      .col("w_u6").desc, org.apache.spark.sql.functions.col("id")).collect()
    assert(rows.length == 3)
    // target = en rows {0,1,2}. Under add-1 smoothing the singleton doc 1
    // (every feature once in target, once in raw) wins:
    // llr(ct=1,cq=1) = ln((2/537)/(2/555)) > 0, while the alpha-beta docs'
    // llr(ct=2,cq=3) = ln((3/537)/(4/555)) < 0 — and the fr-only email doc
    // trails far below. Ties resolve by id: [1, 0, 2].
    assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(1L, 0L, 2L))
    assert(rows(1).getAs[Long]("w_u6") == rows(2).getAs[Long]("w_u6"))
    val back = Graph.deserialize(Graph.serialize(sel)).last
    assert(back == sel && back.uuid == sel.uuid)
  }

  test("DedupSpansOp: exact-copy rows empty out, first copy survives; serde") {
    val r = newRunner()
    val spans = DedupSpansOp(SelectTextColumnOp(corpus, "text"), k = 4L)
    val rows = r.toFrame(spans).orderBy("id").collect()
    // rows 0/2/4 are exact copies; 0 survives whole, 2 and 4 empty out
    assert(rows(0).getString(1) === "alpha beta gamma delta epsilon")
    assert(rows(2).getString(1) === "" && rows(2).getLong(2) === 5L)
    assert(rows(4).getString(1) === "" && rows(4).getLong(2) === 5L)
    assert(rows(1).getLong(2) === 0L && rows(3).getLong(2) === 0L)
    val back = Graph.deserialize(Graph.serialize(spans)).last
    assert(back == spans && back.uuid == spans.uuid)
  }

  test("CorpusStatsOp: per-group data card through the store, serde") {
    val r = newRunner()
    val op = CorpusStatsOp(SelectCategoricalColumnOp(corpus, "lang"),
      SelectTextColumnOp(corpus, "text"), k = 8L)
    val rows = r.toFrame(op).orderBy("group").collect()
      .map(x => (x.getAs[String]("group"), x.getAs[Long]("n_docs"),
        x.getAs[Long]("n_tokens"), x.getAs[Long]("est_distinct_texts")))
    // en rows 0,1,2: two distinct texts (0 == 2); fr rows 3,4: distinct
    assert(rows.toSeq == Seq(("en", 3L, 14L, 2L), ("fr", 2L, 10L, 2L)))
    assert(r.hasResult(op), "non-ephemeral: the data card persists")
    val back = Graph.deserialize(Graph.serialize(op)).last
    assert(back == op && back.uuid == op.uuid)
  }

  test("KeepBestPerClusterOp: max-priority survivor, ties to smaller index, serde") {
    val r = newRunner()
    val c2 = LoadInlineJsonDatasetOp(Map(
      "text" -> Seq(
        "alpha beta gamma delta", // 0: cluster, q 1.0 — loses
        "alpha beta gamma delta", // 1: cluster, q 5.0 — wins the 5.0 tie
        "solo document here",     // 2: no pair — keeps
        "alpha beta gamma delta"), // 3: cluster, q 5.0 — loses the tie
      "q" -> Seq(1.0, 5.0, 0.5, 5.0)))
    val pairs = MinHashNearDupPairsOp(SelectTextColumnOp(c2, "text"),
      threshold = 0.9)
    val op = KeepBestPerClusterOp(SelectScoreColumnOp(c2, "q"), pairs)
    val vals = r.toFrame(op).orderBy("__row_idx")
      .collect().map(_.getAs[Boolean]("value"))
    assert(vals.toSeq == Seq(false, true, true, false))
    assert(r.hasResult(op), "non-ephemeral: verdicts persist")
    val back = Graph.deserialize(Graph.serialize(op)).last
    assert(back == op && back.uuid == op.uuid)
  }

  test("Bm25RankOp: ranked retrieval through the store; terms serde round-trips") {
    val r = newRunner()
    val bm = Bm25RankOp(SelectTextColumnOp(corpus, "text"),
      Seq("unique", "alpha"), k = 5L)
    val rows = r.toFrame(bm).orderBy("rank").collect()
    assert(rows.length === 5)
    // 'unique' appears in exactly one doc (row 1) → its idf dominates
    assert(rows(0).getAs[Long]("id") === 1L)
    assert(r.hasResult(bm), "non-ephemeral: the ranking persists")
    val back = Graph.deserialize(Graph.serialize(bm)).last
    assert(back == bm && back.uuid == bm.uuid)
  }

  test("TemperatureSampleOp: quota-trimmed strata, re-indexed, serde") {
    val r = newRunner()
    // en: 3 rows, fr: 2 rows; α=0.5, frac=1 → T=5, wq=(1732051, 1414214),
    // W=3146265 → quota_en = min(3, ⌊5·1732051/W⌋ = 2),
    // quota_fr = min(2, ⌊5·1414214/W⌋ = 2)
    val op = TemperatureSampleOp(corpus,
      SelectCategoricalColumnOp(corpus, "lang"), alpha = 0.5, frac = 1.0)
    val rows = r.toFrame(op).orderBy("__row_idx").collect()
    assert(rows.length == 4)
    val langs = rows.map(_.getAs[String]("lang")).toSeq
    assert(langs.count(_ == "en") == 2 && langs.count(_ == "fr") == 2)
    // survivors re-indexed contiguously
    assert(rows.map(_.getAs[Long]("__row_idx")).toSeq == (0L until 4L))
    val back = Graph.deserialize(Graph.serialize(op)).last
    assert(back == op && back.uuid == op.uuid)
  }

  test("CcnetBucketsOp: per-lang tiers against a masked reference; serde + store") {
    val r = newRunner()
    val text = SelectTextColumnOp(corpus, "text")
    val lang = SelectCategoricalColumnOp(corpus, "lang")
    // reference = the English slice (CCNet's target-domain shape)
    val isEn = CategoryToBooleanOp(lang, Some(Seq("en")))
    val op = CcnetBucketsOp(text, lang,
      SelectTextColumnOp(MaskRowsOp(corpus, isEn), "text"))
    val rows = r.toFrame(op).orderBy("id").collect()
    assert(rows.length == 5)
    val bucket = rows.map(r0 => r0.getLong(0) -> r0.getAs[String]("bucket")).toMap
    // en rows (0,1,2): the twice-repeated reference-typical doc opens the
    // head; thirds of 3 → one row per bucket
    assert(bucket(0L) == "head")
    assert(Set(bucket(1L), bucket(2L)) == Set("middle", "tail"))
    // fr rows (3,4): thirds of 2 → ⌊0⌋=head, ⌊3·1/2⌋=1 → middle
    assert(Set(bucket(3L), bucket(4L)) == Set("head", "middle"))
    assert(r.hasResult(op), "non-ephemeral: the tiering persists")
    val back = Graph.deserialize(Graph.serialize(op)).last
    assert(back == op && back.uuid == op.uuid)
  }
}
