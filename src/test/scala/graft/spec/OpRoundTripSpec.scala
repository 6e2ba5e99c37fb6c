package graft.spec

import org.scalatest.funsuite.AnyFunSuite

/** One instance of every built-in op class, each field set off its default,
  * round-trips through graph serde: the decoded op equals the original and
  * keeps its uuid. The class list is pinned, so adding or removing an op
  * class is a deliberate edit here.
  */
class OpRoundTripSpec extends AnyFunSuite {

  private val ds = LoadLocalParquetDatasetOp("c0ffee", "/data/docs.parquet")
  private val other = LoadLocalJsonlDatasetOp("beef", "/data/other.jsonl")
  private val text = SelectTextColumnOp(ds, "text")
  private val text2 = SelectTextColumnOp(other, "body")
  private val vec = SelectVectorColumnOp(ds, "embedding")
  private val vec2 = SelectVectorColumnOp(other, "embedding")
  private val cat = SelectCategoricalColumnOp(ds, "label")
  private val bool = SelectBooleanColumnOp(ds, "keep")
  private val bool2 = SelectBooleanColumnOp(ds, "neg")
  private val score = SelectScoreColumnOp(ds, "score")
  private val score2 = SelectScoreColumnOp(ds, "weight")
  private val split = SelectTrainTestSplitColumnOp(ds, "split")
  private val bin = SelectBinaryColumnOp(ds, "img")
  private val pairs = MinHashNearDupPairsOp(text, shingleN = 5L,
    numPerms = 32L, numBands = 8L, threshold = 0.7)
  private val clf = TrainClassifierOp("logistic_regression", vec, bool, bool2,
    Some(bool), "standardize", Map("C" -> 0.5, "tags" -> Seq("a", 1L)))
  private val mclf = TrainMulticlassClassifierOp("softmax", vec, cat,
    Some(bool2), "normalize", Map("iters" -> 5L))
  private val bpe = TrainBpeTokenizerOp(text, numMerges = 16L)
  private val unigram = TrainUnigramTokenizerOp(text, 10L, 3L, 6L)

  private val ops: Seq[OpSpec] = Seq(
    ds, other,
    LoadInlineJsonDatasetOp(Map("a" -> Seq(1L, 2L), "b" -> Seq("x", null))),
    LoadLocalCsvDatasetOp("feed", "/data/t.csv", header = false),
    text, vec, cat, bool, score, split,
    SelectJSONColumnOp(ds, "meta"),
    SelectConversationColumnOp(ds, "chat"),
    bin,
    TakeRowsOp(ds, skip = 3L, offset = 2L, numRows = Some(5L)),
    MaskRowsOp(ds, bool),
    CategoryToBooleanOp(cat, Some(Seq("a")), Some(Seq("b"))),
    BooleanLogicOp("xor", bool, bool2),
    ParseJSONColumnOp(text),
    VectorToScalarOp(vec, 3L),
    PairwiseArithmeticOp("*", score, score2),
    JinjaTemplatizeOp("{{a}} {{b}}", Map("a" -> text, "c" -> text2),
      Map("b" -> "const"), Some(7L)),
    AssignTrainTestSplitOp(ds, Some(0.3), Some(50L), 7L),
    AssignRowIDOp(ds),
    clf,
    ClassifierPredictOp(clf, vec),
    ClassifierEvaluationOp(score, bool, bool2, Some(split), Some(bool), Some(0.25)),
    mclf,
    MulticlassPredictOp(mclf, vec),
    MulticlassEvaluationOp(MulticlassPredictOp(mclf, vec), cat, Some(split),
      Some(bool)),
    HashedTfEmbeddingOp(text, 32L, 4L),
    LLMLayerActivationsOp("fake:m", text, 3L, "mean", 8L, Some(64L),
      Some("float16"), "cpu", torchCompile = true, applyChatTemplate = false),
    LLMLogitScoresOp("fake:m", text, Seq(1L, "yes"), 8L, false, Some("bf16"),
      "cpu", Some(32L), true, Some("Answer:")),
    LLMGenerateTextOp("fake:m", text, 5L),
    UMAPVizOp(vec, 9L, 50L, 7L, "cosine", Some(Map("p" -> 3L)), "manhattan",
      Some(Map("q" -> 1.5)), 0.5, 0.2, 2.0, 0.5, 2.0, 0.5, 3L, 2.0, true,
      5L, "l2", Some(Map("r" -> "s")), 0.25, 9L, "graph", true, true, true,
      1.0, 0.5, 0.2, true, Some(4.0)),
    SpectralVizOp(vec, 3L, 2L),
    UmapLayoutOp(vec, 3L, 5L, 2L, "random"),
    KMeansClusterOp(vec, Seq(0L, 2L), 6L),
    PrototypeDropOp(vec, Seq(1L, 3L), 2L, 2L, 5L),
    CorpusStatsOp(cat, text, 32L),
    CmsWordCountsOp(text, 2L, 64L, 5L),
    BloomMembershipOp(text, text2, 2L, 128L),
    EpochShardOp(ds, 3L, 8L),
    ChunkTextOp(text, 100L, 10L),
    KeepBestPerClusterOp(score, pairs),
    TokenBudgetKeepOp(cat, score, score2, 1000L),
    GroupedOp(Seq(text, score)),
    RedactPIIColumnOp(text),
    DropExactDuplicatesOp(ds, text),
    ContaminationFlagOp(text, text2, 3L, 2L),
    StratifiedSampleOp(ds, cat, 0.5, "s1"),
    MixtureSampleOp(ds, cat, Map("a" -> 0.5, "b" -> 1L.toDouble), 0.25, "s2"),
    PackSequencesOp(score, 128L),
    TokenCountOp(text),
    QualityScoreOp(text),
    LanguageIdOp(text),
    FingerprintOp(text),
    GopherKeepOp(text, 10L, 1000L, 2.5, 12.0, 0.3),
    LmPerplexityOp(text, text2),
    DsirSelectOp(text, text2, 1024L, 20L, 0.5),
    TemperatureSampleOp(ds, cat, 0.3, 0.8, "s3"),
    CcnetBucketsOp(text, cat, text2),
    DedupSpansOp(text, 5L),
    Bm25RankOp(text, Seq("a", "b"), 5L, 1.5, 0.5),
    Bm25RankManyOp(text, Seq(Seq("a"), Seq("b", "c")), 5L, 1.5, 0.5),
    RrfFuseOp(Bm25RankOp(text, Seq("a")), AnnBruteTopKOp(vec, vec2),
      "doc", "cid", 30L, 5L),
    pairs,
    SimHashNearDupPairsOp(text, 4L, 500L),
    CosineNearDupPairsOp(vec, 16L, 4L, 6L, 0.9, 500L),
    SemanticDedupOp(vec, Seq(0L, 5L), 0.9, 500L, 4L, 3L),
    DropNearDuplicatesOp(ds, pairs),
    AnnBruteTopKOp(vec, vec2, 5L),
    IvfPqTopKOp(vec, vec2, Seq(0L, 1L), Seq(2L, 3L), 5L, 4L, 3L, 10L),
    ImageMetaOp(bin),
    ImageResizeOp(bin, 64L),
    ImageEmbedOp(bin, 4L),
    AudioMetaOp(bin),
    ExplodeFramesOp(bin),
    bpe,
    BpeTokenizeOp(bpe, text),
    unigram,
    UnigramTokenizeOp(unigram, text))

  // the op classes the graph decoder accepts, one per case class in Ops.scala
  private val opClassNames = Set(
    "AnnBruteTopKOp", "AssignRowIDOp", "AssignTrainTestSplitOp", "AudioMetaOp",
    "BloomMembershipOp", "Bm25RankManyOp", "Bm25RankOp", "BooleanLogicOp",
    "BpeTokenizeOp", "CategoryToBooleanOp", "CcnetBucketsOp", "ChunkTextOp",
    "ClassifierEvaluationOp", "ClassifierPredictOp", "CmsWordCountsOp",
    "ContaminationFlagOp", "CorpusStatsOp", "CosineNearDupPairsOp",
    "DedupSpansOp", "DropExactDuplicatesOp", "DropNearDuplicatesOp",
    "DsirSelectOp", "EpochShardOp", "ExplodeFramesOp", "FingerprintOp",
    "GopherKeepOp", "GroupedOp", "HashedTfEmbeddingOp", "ImageEmbedOp",
    "ImageMetaOp", "ImageResizeOp", "IvfPqTopKOp", "JinjaTemplatizeOp",
    "KMeansClusterOp", "KeepBestPerClusterOp", "LLMGenerateTextOp",
    "LLMLayerActivationsOp", "LLMLogitScoresOp", "LanguageIdOp",
    "LmPerplexityOp", "LoadInlineJsonDatasetOp", "LoadLocalCsvDatasetOp",
    "LoadLocalJsonlDatasetOp", "LoadLocalParquetDatasetOp", "MaskRowsOp",
    "MinHashNearDupPairsOp", "MixtureSampleOp", "MulticlassEvaluationOp",
    "MulticlassPredictOp", "PackSequencesOp", "PairwiseArithmeticOp",
    "ParseJSONColumnOp", "PrototypeDropOp", "QualityScoreOp",
    "RedactPIIColumnOp", "RrfFuseOp", "SelectBinaryColumnOp",
    "SelectBooleanColumnOp", "SelectCategoricalColumnOp",
    "SelectConversationColumnOp", "SelectJSONColumnOp", "SelectScoreColumnOp",
    "SelectTextColumnOp", "SelectTrainTestSplitColumnOp",
    "SelectVectorColumnOp", "SemanticDedupOp", "SimHashNearDupPairsOp",
    "SpectralVizOp", "StratifiedSampleOp", "TakeRowsOp", "TemperatureSampleOp",
    "TokenBudgetKeepOp", "TokenCountOp", "TrainBpeTokenizerOp",
    "TrainClassifierOp", "TrainMulticlassClassifierOp",
    "TrainUnigramTokenizerOp", "UMAPVizOp", "UmapLayoutOp",
    "UnigramTokenizeOp", "VectorToScalarOp")

  // the ops whose length is their first dataset or column dependency's
  private val rowAlignedNames = Set(
    "SelectTextColumnOp", "SelectVectorColumnOp", "SelectCategoricalColumnOp",
    "SelectBooleanColumnOp", "SelectScoreColumnOp",
    "SelectTrainTestSplitColumnOp", "SelectJSONColumnOp",
    "SelectConversationColumnOp", "SelectBinaryColumnOp",
    "CategoryToBooleanOp", "BooleanLogicOp", "ParseJSONColumnOp",
    "VectorToScalarOp", "PairwiseArithmeticOp", "JinjaTemplatizeOp",
    "AssignTrainTestSplitOp", "AssignRowIDOp", "ClassifierPredictOp",
    "MulticlassPredictOp", "HashedTfEmbeddingOp", "LLMLayerActivationsOp",
    "LLMLogitScoresOp", "LLMGenerateTextOp", "UMAPVizOp", "SpectralVizOp",
    "UmapLayoutOp", "KMeansClusterOp", "PrototypeDropOp", "TokenBudgetKeepOp",
    "KeepBestPerClusterOp", "BloomMembershipOp", "EpochShardOp",
    "RedactPIIColumnOp", "TokenCountOp", "QualityScoreOp", "LanguageIdOp",
    "FingerprintOp", "GopherKeepOp", "ContaminationFlagOp", "LmPerplexityOp",
    "CcnetBucketsOp", "PackSequencesOp", "BpeTokenizeOp", "UnigramTokenizeOp",
    "ImageMetaOp", "ImageResizeOp", "ImageEmbedOp", "AudioMetaOp")

  test("the fixture holds one instance of each of the 81 op classes") {
    assert(opClassNames.size == 81)
    assert(ops.map(_.typeName).toSet == opClassNames)
    assert(ops.map(_.typeName).distinct.length == ops.length)
  }

  test("every defaulted field of every fixture op is set off its default") {
    var defaults = 0
    ops.foreach { op =>
      val companion = Class.forName(op.getClass.getName + "$")
        .getField("MODULE$").get(null)
      op.productIterator.zipWithIndex.foreach { case (v, i) =>
        val default = companion.getClass.getMethods
          .find(_.getName == "$lessinit$greater$default$" + (i + 1))
        default.foreach { m =>
          defaults += 1
          assert(m.invoke(companion) != v,
            s"${op.typeName}.${op.productElementName(i)} is at its default")
        }
      }
    }
    assert(defaults > 100) // the lookup found the constructor defaults
  }

  test("every op class round-trips graph serde with an unchanged uuid") {
    ops.foreach { op =>
      val back = Graph.deserialize(Graph.serialize(op))
      assert(back == Seq(op), op.typeName)
      assert(back.head.uuid == op.uuid, op.typeName)
    }
  }

  test("the row-aligned op classes are the 48 whose length follows an input") {
    assert(rowAlignedNames.size == 48)
    assert(ops.collect { case r: RowAligned => r.typeName }.toSet == rowAlignedNames)
  }
}
