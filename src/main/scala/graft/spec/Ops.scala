package graft.spec

/** The complete op inventory (SURVEY.md §2): every concrete op class of the
  * reference re-expressed as a Scala case class over [[OpSpec]]. Result-kind
  * marker traits mirror the reference's column-type mixins
  * (`types.py:18-386`) so the *graph* is strongly typed while the *data*
  * stays dynamically checked at materialize time.
  */

// ---------- result-kind marker traits ----------

trait DatasetType extends OpSpec
trait ColumnType extends OpSpec
trait TextColumnType extends ColumnType
trait VectorColumnType extends ColumnType
trait BinaryColumnType extends ColumnType
trait CategoricalColumnType extends ColumnType
trait BooleanColumnType extends ColumnType
trait ScoreColumnType extends ColumnType
trait TrainTestSplitColumnType extends ColumnType
trait JSONColumnType extends ColumnType
trait ConversationColumnType extends ColumnType
trait RowIDColumnType extends ColumnType
trait VizEmbeddingColumnType extends ColumnType
trait ClassifierType extends OpSpec
trait EvaluationReportType extends OpSpec

/** One output row per row of the op's first dataset or column dependency,
  * in field order (a map's values by key): the op's length is that
  * dependency's, so a runner resolves it without a Spark job. */
trait RowAligned { self: OpSpec =>
  final def rowSource: OpSpec =
    productIterator.flatMap(OpSpec.collectOps).collectFirst {
      case d: DatasetType => d
      case c: ColumnType => c
    }.getOrElse(throw new IllegalStateException(
      s"$typeName has no dataset or column dependency"))
}

// ---------- scans / sources (reference dataset_ops.py:55-96) ----------

/** Load one parquet file. The path is excluded from the UUID — identity is
  * the streamed sha256 `content_hash` of the file bytes, so the same content
  * at a different path is the same op (reference `dataset_ops.py:65-72`,
  * `local_arrow_runner.py:154-198`).
  *
  * Ephemeral on purpose: the content-addressed *file itself* is the result —
  * persisting would copy the whole input into the store (the reference's
  * `prepare()` copy step is an explicit remote-sharing action, not implicit;
  * at 100 TB an implicit copy is disqualifying). Recompute = re-read, and
  * keeping the load lazy lets Catalyst push column pruning and filters from
  * downstream ephemeral ops INTO the original parquet scan.
  */
final case class LoadLocalParquetDatasetOp(
    contentHash: String,
    filePath: String) extends DatasetType with EphemeralOp {
  override def excludeFromUuid: Set[String] = Set("file_path")
}

/** Dataset from inline columns-orientation data; the data lives in the spec
  * itself (reference `dataset_ops.py:74-96`) — ephemeral: the spec IS the
  * data. Values restricted to JSON primitives / lists thereof. */
final case class LoadInlineJsonDatasetOp(
    data: Map[String, Seq[Any]]) extends DatasetType with EphemeralOp {
  require(data.values.map(_.length).toSet.size <= 1,
    s"inline columns must have equal lengths, got ${data.view.mapValues(_.length).toMap}")
}

/** Dataset from a JSONL (newline-delimited JSON) file or directory — the
  * interchange format LLM corpora actually arrive in. Identity and
  * ephemerality follow [[LoadLocalParquetDatasetOp]] exactly: content-hash
  * identity (path excluded from the UUID), lazy scan so downstream pruning
  * reaches the source. Schema is inferred from the data (line-splittable,
  * so a directory of shards scans in parallel). Beyond the reference's
  * surface (it loads parquet + inline only). */
final case class LoadLocalJsonlDatasetOp(
    contentHash: String,
    filePath: String) extends DatasetType with EphemeralOp {
  override def excludeFromUuid: Set[String] = Set("file_path")
}

/** Dataset from a headered CSV file or directory, same identity contract as
  * [[LoadLocalJsonlDatasetOp]]. `header=false` reads positional `_c0…`
  * columns. Types are inferred; cast downstream where exact widths matter.
  * Beyond the reference's surface. */
final case class LoadLocalCsvDatasetOp(
    contentHash: String,
    filePath: String,
    header: Boolean = true) extends DatasetType with EphemeralOp {
  override def excludeFromUuid: Set[String] = Set("file_path")
}

// ---------- typed column selects (reference dataset_ops.py:99-153) ----------

sealed trait SelectColumnOp extends ColumnType with EphemeralOp with RowAligned {
  def dataset: DatasetType
  def columnName: String
}

final case class SelectTextColumnOp(dataset: DatasetType, columnName: String)
  extends SelectColumnOp with TextColumnType
final case class SelectVectorColumnOp(dataset: DatasetType, columnName: String)
  extends SelectColumnOp with VectorColumnType
final case class SelectCategoricalColumnOp(dataset: DatasetType, columnName: String)
  extends SelectColumnOp with CategoricalColumnType
final case class SelectBooleanColumnOp(dataset: DatasetType, columnName: String)
  extends SelectColumnOp with BooleanColumnType
final case class SelectScoreColumnOp(dataset: DatasetType, columnName: String)
  extends SelectColumnOp with ScoreColumnType
final case class SelectTrainTestSplitColumnOp(dataset: DatasetType, columnName: String)
  extends SelectColumnOp with TrainTestSplitColumnType
final case class SelectJSONColumnOp(dataset: DatasetType, columnName: String)
  extends SelectColumnOp with JSONColumnType
final case class SelectConversationColumnOp(dataset: DatasetType, columnName: String)
  extends SelectColumnOp with ConversationColumnType
/** Opaque media payloads (image/audio/video bytes) as a first-class column
  * kind — beyond the reference's surface, the entry point of the multimodal
  * op family below. */
final case class SelectBinaryColumnOp(dataset: DatasetType, columnName: String)
  extends SelectColumnOp with BinaryColumnType

// ---------- row selection (reference dataset_ops.py:222-316) ----------

/** Python slice `table[offset::skip][:num_rows]` (reference
  * `dataset_ops.py:222-230`). */
final case class TakeRowsOp(
    dataset: DatasetType,
    skip: Long = 1L,
    offset: Long = 0L,
    numRows: Option[Long] = None) extends DatasetType with EphemeralOp {
  require(skip >= 1, s"skip must be >= 1, got $skip")
  // negative offsets (python count-from-end) are NOT supported: the
  // closed-form re-index `(idx - offset) / skip` assumes a 0-based start,
  // so a negative value would silently break positional identity
  require(offset >= 0, s"offset must be >= 0, got $offset")
  require(numRows.forall(_ >= 0),
    s"num_rows must be >= 0, got ${numRows.get}")
}

/** Keep rows where the positionally-aligned boolean mask is true
  * (reference `dataset_ops.py:233-245`). */
final case class MaskRowsOp(
    dataset: DatasetType,
    mask: BooleanColumnType) extends DatasetType with EphemeralOp

/** Category membership → boolean. Values are deduped + sorted at build for
  * stable hashing, like the reference's `ensure_set_or_none`
  * (`dataset_ops.py:253-256`). */
final case class CategoryToBooleanOp(
    inputCategory: ColumnType,
    trueValues: Option[Seq[String]] = None,
    falseValues: Option[Seq[String]] = None)
  extends BooleanColumnType with EphemeralOp with RowAligned {
  require(trueValues.nonEmpty || falseValues.nonEmpty,
    "one of true_values/false_values required")
}

object CategoryToBooleanOp {
  /** Normalizing constructor (dedupe + sort). */
  def build(inputCategory: ColumnType,
            trueValues: Option[Seq[String]],
            falseValues: Option[Seq[String]]): CategoryToBooleanOp =
    CategoryToBooleanOp(inputCategory,
      trueValues.map(_.distinct.sorted),
      falseValues.map(_.distinct.sorted))
}

/** and/or/xor/not over two aligned boolean columns; "not" uses left only
  * (reference `dataset_ops.py:319-346`). */
final case class BooleanLogicOp(
    operation: String,
    left: BooleanColumnType,
    right: BooleanColumnType) extends BooleanColumnType with EphemeralOp with RowAligned {
  require(Set("and", "or", "xor", "not")(operation), s"bad operation $operation")
}

// ---------- scalar / column transforms (reference dataset_ops.py:156-379) ----------

final case class ParseJSONColumnOp(text: TextColumnType)
  extends JSONColumnType with EphemeralOp with RowAligned

final case class VectorToScalarOp(input: VectorColumnType, colIndex: Long = 0L)
  extends ScoreColumnType with EphemeralOp with RowAligned

/** `+ - * /` elementwise, numpy div semantics (reference
  * `dataset_ops.py:353-379`). */
final case class PairwiseArithmeticOp(
    operation: String,
    left: ScoreColumnType,
    right: ScoreColumnType) extends ScoreColumnType with EphemeralOp with RowAligned {
  require(Set("+", "-", "*", "/")(operation), s"bad operation $operation")
}

/** Render a Jinja template per row. Context columns are positionally
  * aligned; constants are spec-level scalars. Key collisions between the two
  * are a build-time error (reference `dataset_ops.py:187-219`). */
final case class JinjaTemplatizeOp(
    template: String,
    context: Map[String, ColumnType],
    constants: Map[String, Any] = Map.empty,
    maxLength: Option[Long] = None) extends TextColumnType with RowAligned {
  private val collisions = context.keySet & constants.keySet
  require(collisions.isEmpty,
    s"Key collision detected between context and constants: ${collisions.toSeq.sorted.mkString(", ")}")
  require(maxLength.forall(_ >= 0), s"max_length must be >= 0, got $maxLength")
}

/** Seeded exact-count train/test assignment (reference
  * `dataset_ops.py:168-184`): float = proportion, int = absolute count,
  * complement inferred, default test 0.25, default seed = 1919-01-15. */
final case class AssignTrainTestSplitOp(
    dataset: DatasetType,
    testSize: Option[Any] = None,
    trainSize: Option[Any] = None,
    randomState: Long = 19190115L) extends TrainTestSplitColumnType with RowAligned {
  Seq(testSize, trainSize).flatten.foreach {
    case d: Double => require(d >= 0 && d <= 1, s"proportion $d out of [0,1]")
    case _: Long | _: Int =>
    case other => throw new IllegalArgumentException(
      s"test/train size must be a proportion (Double) or count (Long), got $other")
  }
}

final case class AssignRowIDOp(dataset: DatasetType) extends RowIDColumnType with RowAligned

// ---------- ML (reference classifier_ops.py:22-63) ----------

final case class TrainClassifierOp(
    modelType: String,
    x: VectorColumnType,
    positives: BooleanColumnType,
    negatives: BooleanColumnType,
    trainDomain: Option[BooleanColumnType] = None,
    preprocessing: String = "none",
    params: Map[String, Any] = Map.empty) extends ClassifierType {
  require(Set("none", "standardize", "normalize")(preprocessing),
    s"bad preprocessing $preprocessing")
}

final case class ClassifierPredictOp(
    model: ClassifierType,
    x: VectorColumnType) extends ScoreColumnType with RowAligned

final case class ClassifierEvaluationOp(
    score: ScoreColumnType,
    gtPositives: BooleanColumnType,
    gtNegatives: BooleanColumnType,
    split: Option[ColumnType] = None,
    predictDomain: Option[BooleanColumnType] = None,
    scoreThreshold: Option[Double] = None) extends EvaluationReportType

// ---------- multiclass probe chain (beyond reference: its probes are
// binary-only — `probe_implementations.py:197` asserts two classes) ----------

/** Train a MULTICLASS probe: features × a CATEGORICAL label column (class
  * vocabulary = the sorted distinct labels seen in the train domain; the
  * fitted model carries the label mapping, so prediction yields the
  * original strings). `model_type` resolves in
  * [[graft.ml.MulticlassRegistry]] — softmax, one-vs-rest lifts, trees,
  * gaussian NB, and `nearest_centroid` (the quantized-exact closed-form
  * member that makes the chain hash-replayable). */
final case class TrainMulticlassClassifierOp(
    modelType: String,
    x: VectorColumnType,
    labels: CategoricalColumnType,
    trainDomain: Option[BooleanColumnType] = None,
    preprocessing: String = "none",
    params: Map[String, Any] = Map.empty) extends ClassifierType {
  require(Set("none", "standardize", "normalize")(preprocessing),
    s"bad preprocessing $preprocessing")
}

/** Predicted class label per row — a CATEGORICAL column, so the prediction
  * flows back into every categorical op (is_in masks, grouped filters,
  * another train's label input). */
final case class MulticlassPredictOp(
    model: ClassifierType,
    x: VectorColumnType) extends CategoricalColumnType with RowAligned

/** Multiclass evaluation report: per split — accuracy, per-class
  * precision/recall/F1/support, macro-F1, full confusion matrix. All
  * derived from one bounded (split, gt, pred) count aggregation. */
final case class MulticlassEvaluationOp(
    predicted: CategoricalColumnType,
    gtLabels: CategoricalColumnType,
    split: Option[ColumnType] = None,
    predictDomain: Option[BooleanColumnType] = None) extends EvaluationReportType

/** Model-free hashing-trick document embedding
  * ([[graft.ext.TextAnalysis.hashedTfEmbedding]]): signed bucket counts
  * over whitespace words, optionally scaled by 2^-`scaleBits` (dyadic —
  * exact in float, which keeps downstream quantized-exact probes inside
  * their 2⁵³ contract). The spec layer's text→vector bridge: feeds
  * TrainClassifierOp / TrainMulticlassClassifierOp / ANN ops with no
  * neural encoder in the loop. */
final case class HashedTfEmbeddingOp(
    text: TextColumnType,
    dim: Long = 64L,
    scaleBits: Long = 0L) extends VectorColumnType with EphemeralOp with RowAligned {
  require(dim >= 1L && dim <= Int.MaxValue, s"dim must be in [1, 2^31), got $dim")
  require(scaleBits >= 0L && scaleBits <= 30L,
    s"scaleBits must be in [0, 30], got $scaleBits")
}

// ---------- LLM ops (reference llm_ops.py) ----------

/** Residual activations at `layer_num`, pooled by `token_mode`. Provider
  * selected by the model-name scheme (`fake:`/`http:`; reference uses
  * `hf:`/`tl:`/`ollama:`/`st:`, `runners/model_registry.py:13-75`).
  * Engine-execution knobs (batch size, device, dtype, compile flag) are
  * excluded from the UUID — they change how, not what, is computed. */
final case class LLMLayerActivationsOp(
    modelName: String,
    text: ColumnType,
    layerNum: Long,
    tokenMode: String = "last",
    batchSize: Long = 32L,
    maxLength: Option[Long] = None,
    dtype: Option[String] = None,
    device: String = "auto",
    torchCompile: Boolean = false,
    applyChatTemplate: Boolean = true) extends VectorColumnType with RowAligned {
  require(Set("last", "mean", "all")(tokenMode), s"bad token_mode $tokenMode")
  override def excludeFromUuid: Set[String] =
    Set("batch_size", "device", "torch_compile")
}

/** Logits of the listed tokens at the last input position (reference
  * `llm_ops.py:48-72`). */
final case class LLMLogitScoresOp(
    modelName: String,
    text: TextColumnType,
    logitTokenIds: Seq[Any],
    batchSize: Long = 32L,
    applyChatTemplate: Boolean = true,
    dtype: Option[String] = None,
    device: String = "auto",
    maxLength: Option[Long] = None,
    torchCompile: Boolean = false,
    appendToChatTemplate: Option[String] = None) extends VectorColumnType with RowAligned {
  override def excludeFromUuid: Set[String] =
    Set("batch_size", "device", "torch_compile")
}

/** Declared but unimplemented in the reference too (`types.py:401`). */
final case class LLMGenerateTextOp(
    modelName: String,
    prompt: TextColumnType,
    maxTokens: Long = 100L) extends TextColumnType with RowAligned

// ---------- viz (reference viz_ops.py:10-52) ----------

/** 2-D embedding of a vector column. The reference runs umap-learn; this
  * engine substitutes a distributed PCA(2) under the same spec shape
  * (SURVEY §2.7) — hyperparameters kept for hash parity of the spec. */
/** 2-D viz embedding of a vector column. Carries the reference's FULL
  * hyperparameter surface (`viz_ops.py:10-52`) so richly-parameterized viz
  * graphs round-trip and hash stably, even though the engine's distributed
  * stand-in (PCA-2D, SURVEY §2.7) only consumes a subset — spec parity and
  * implementation fidelity are independent axes, and the spec is the
  * cross-machine contract. */
final case class UMAPVizOp(
    inputEmbedding: VectorColumnType,
    nNeighbors: Long = 15L,
    nEpochs: Long = 200L,
    randomState: Long = 42L,
    metric: String = "euclidean",
    metricKwds: Option[Map[String, Any]] = None,
    outputMetric: String = "euclidean",
    outputMetricKwds: Option[Map[String, Any]] = None,
    learningRate: Double = 1.0,
    minDist: Double = 0.1,
    spread: Double = 1.0,
    setOpMixRatio: Double = 1.0,
    localConnectivity: Double = 1.0,
    repulsionStrength: Double = 1.0,
    negativeSampleRate: Long = 5L,
    transformQueueSize: Double = 4.0,
    angularRpForest: Boolean = false,
    targetNNeighbors: Long = -1L,
    targetMetric: String = "categorical",
    targetMetricKwds: Option[Map[String, Any]] = None,
    targetWeight: Double = 0.5,
    transformSeed: Long = 42L,
    transformMode: String = "embedding",
    forceApproximationAlgorithm: Boolean = false,
    unique: Boolean = false,
    densmap: Boolean = false,
    densLambda: Double = 2.0,
    densFrac: Double = 0.3,
    densVarShift: Double = 0.1,
    outputDens: Boolean = false,
    disconnectionDistance: Option[Double] = None) extends VizEmbeddingColumnType with RowAligned

/** Laplacian-eigenmaps 2-D spectral embedding of a vector column
  * ([[graft.ml.Spectral]], Belkin & Niyogi 2003): cosine kNN graph +
  * quantized-exact integer power iteration over M = 2ΔI − L — the
  * NONLINEAR manifold layout [[UMAPVizOp]]'s PCA stand-in cannot produce
  * (and the initialization real UMAP itself uses), externally replayable
  * by construction. Value = [e1, e2] per row. Non-ephemeral: the
  * 2×`iters` distributed SpMV chain is worth content-addressing. */
final case class SpectralVizOp(
    inputEmbedding: VectorColumnType,
    k: Long = 8L,
    iters: Long = 8L) extends VizEmbeddingColumnType with RowAligned {
  require(k >= 1L, s"k must be >= 1, got $k")
  require(iters >= 1L, s"iters must be >= 1, got $iters")
}

/** REAL UMAP 2-D layout ([[graft.ml.UmapLayout]], round 18): the paper's
  * force-directed optimization phase itself — Cauchy-kernel attract /
  * repulse epochs over the cosine kNN graph, md5-derived negative
  * sampling, linear lr decay — quantized-exact and externally replayable,
  * where [[UMAPVizOp]] substitutes a PCA projection. `init` = "spectral"
  * (the paper's default, composing [[SpectralVizOp]]'s eigenmaps) or
  * "random" (the ±10-unit md5 box). Value = [e1, e2] per row.
  * Non-ephemeral: `iters` distributed force passes are worth
  * content-addressing. */
final case class UmapLayoutOp(
    inputEmbedding: VectorColumnType,
    k: Long = 8L,
    iters: Long = 30L,
    negatives: Long = 4L,
    init: String = "spectral") extends VizEmbeddingColumnType with RowAligned {
  require(k >= 1L, s"k must be >= 1, got $k")
  require(iters >= 1L, s"iters must be >= 1, got $iters")
  require(negatives >= 0L, s"negatives must be >= 0, got $negatives")
  require(init == "random" || init == "spectral",
    s"init must be random|spectral, got '$init'")
}

/** Quantized-exact k-means cluster id per row
  * ([[graft.ml.ExactKMeans]]): initial centroids = corpus members at row
  * indices `centroidIds` (cell = list position), `iters` Lloyd passes
  * (integer argmax assignment, integer-mean update, empty cells carry),
  * value = final cell index as a CATEGORICAL string — so clusters flow
  * into masks, grouped filters, stratified/temperature sampling, and
  * another train's labels like any category. Deterministic and externally
  * replayable, unlike a seeded sampler init. Non-ephemeral: `iters + 1`
  * corpus passes are worth content-addressing. */
final case class KMeansClusterOp(
    vectors: VectorColumnType,
    centroidIds: Seq[Long],
    iters: Long = 4L) extends CategoricalColumnType with RowAligned {
  require(centroidIds.nonEmpty, "centroidIds must be non-empty")
  require(iters >= 0L, s"iters must be >= 0, got $iters")
}

/** D4-style prototype-drop keep verdicts over a vector column
  * ([[graft.ext.Diversify.prototypeKeepFlags]], Tirumala 2023): cluster
  * with [[graft.ml.ExactKMeans]] (member-init centroids at row indices
  * `centroidIds`, `iters` Lloyd passes), then within each cell mark the
  * `floor(cellSize·dropNum/dropDen)` members CLOSEST to their centroid as
  * dropped — diversity-keeping selection, the complement of
  * [[SemanticDedupOp]]'s too-close-to-each-other rule. Value = keep
  * boolean per row; compose with [[MaskRowsOp]] to realize the cut.
  * Non-ephemeral: rides `iters + 1` corpus passes plus the ranked
  * assignment — worth content-addressing. */
final case class PrototypeDropOp(
    vectors: VectorColumnType,
    centroidIds: Seq[Long],
    iters: Long = 4L,
    dropNum: Long = 1L,
    dropDen: Long = 4L) extends BooleanColumnType with RowAligned {
  require(centroidIds.nonEmpty, "centroidIds must be non-empty")
  require(iters >= 0L, s"iters must be >= 0, got $iters")
  require(dropDen >= 1L, s"dropDen must be >= 1, got $dropDen")
  require(dropNum >= 0L && dropNum <= dropDen,
    s"dropNum must be in [0, dropDen], got $dropNum/$dropDen")
}

/** Token-budget keep verdicts over aligned (group, priority, tokens)
  * columns ([[graft.ext.Corpus.tokenBudgetKeep]]): within each group,
  * rows ranked by priority DESC (row-index tie-break) are kept while the
  * group's inclusive cumulative token count stays ≤ `budget` — the "fill
  * each language's token allowance with its best documents" step of a
  * pretraining mix. Value = keep boolean per row; compose with
  * [[MaskRowsOp]] to realize the cut. Non-ephemeral: the grouped cumsum
  * shuffle is worth content-addressing. */
final case class TokenBudgetKeepOp(
    group: CategoricalColumnType,
    priority: ScoreColumnType,
    tokens: ScoreColumnType,
    budget: Long) extends BooleanColumnType with RowAligned {
  require(budget >= 0L, s"budget must be >= 0, got $budget")
}

// ---------- grouping (reference grouped_ops.py:8-17) ----------

final case class GroupedOp(ops: Seq[OpSpec]) extends OpSpec

// ---------- scale-extension ops (beyond the reference surface) ----------
// The curation operators a 100 TB training-data pipeline runs (ext/ package)
// lifted into the spec layer, so dedup/sampling/redaction participate in
// content-addressed memoization, graph serde, subs() surgery, and the CLI
// exactly like reference ops. north star: /root/repo/BASELINE.json.

/** Redact emails/IPv4s/phones from a text column ([[graft.ext.Corpus.redactPII]]).
  * Ephemeral: a pure narrow map that fuses into its consumer's plan. */
final case class RedactPIIColumnOp(text: TextColumnType)
  extends TextColumnType with EphemeralOp with RowAligned

/** Drop exact duplicates of `text` corpus-wide, keeping each content's FIRST
  * occurrence (minimum row index — deterministic); survivors re-indexed
  * positionally like `MaskRowsOp`. The dedup decision shuffles 16-byte
  * digests, never documents. */
final case class DropExactDuplicatesOp(
    dataset: DatasetType,
    text: TextColumnType) extends DatasetType

/** Per-row benchmark-contamination flag: true iff the row's text shares at
  * least `minOverlap` distinct word `n`-grams with the benchmark text column
  * (broadcast as 64-bit gram hashes — [[graft.ext.Corpus.contamination]]). */
final case class ContaminationFlagOp(
    text: TextColumnType,
    benchmark: TextColumnType,
    n: Long = 5L,
    minOverlap: Long = 1L) extends BooleanColumnType with RowAligned {
  require(n >= 1L, s"n must be >= 1, got $n")
  require(minOverlap >= 1L, s"minOverlap must be >= 1, got $minOverlap")
}

/** Exact stratified sample: keep floor(frac * |stratum|) rows per stratum,
  * md5-ranked on the ROW INDEX (positional identity — the same rows are
  * kept no matter how the stratum column was derived), seeded by `salt`;
  * survivors re-indexed positionally. */
final case class StratifiedSampleOp(
    dataset: DatasetType,
    stratum: CategoricalColumnType,
    frac: Double,
    salt: String = "graft") extends DatasetType {
  require(frac >= 0.0 && frac <= 1.0, s"frac must be in [0,1], got $frac")
}

/** Domain-mixture sample: per-stratum target fractions applied exactly —
  * floor(fracs(s) * |stratum s|) rows kept per stratum (strata absent from
  * `fracs` fall back to `defaultFrac`), md5-ranked on the ROW INDEX and
  * seeded by `salt` like [[StratifiedSampleOp]]; survivors re-indexed
  * positionally. The corpus re-weighting step of a training pipeline
  * ([[graft.ext.Corpus.mixtureSample]]). */
final case class MixtureSampleOp(
    dataset: DatasetType,
    stratum: CategoricalColumnType,
    fracs: Map[String, Double],
    defaultFrac: Double = 0.0,
    salt: String = "graft") extends DatasetType {
  (fracs.values ++ Seq(defaultFrac)).foreach(f =>
    require(f >= 0.0 && f <= 1.0, s"fractions must be in [0,1], got $f"))
}

/** Temperature-flattened mixture sample
  * ([[graft.ext.Corpus.temperatureSample]], mT5 α-sampling): per-stratum
  * quotas toward q_i ∝ n_i^α at total ≤ ⌊frac·N⌋, md5-ranked on the row
  * index, survivors re-indexed positionally. The language-balancing draw
  * of a multilingual training mixture. */
final case class TemperatureSampleOp(
    dataset: DatasetType,
    stratum: CategoricalColumnType,
    alpha: Double = 0.5,
    frac: Double = 1.0,
    salt: String = "graft") extends DatasetType {
  require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
  require(frac >= 0.0 && frac <= 1.0, s"frac must be in [0,1], got $frac")
}

/** Concat-and-chunk sequence-packing layout over a per-row token-count
  * column in POSITIONAL order ([[graft.ext.Corpus.packSequences]]): each
  * row's global token offset and [first_seq, last_seq] sequence range at a
  * fixed `seqLen`. A dataset whose columns ARE the layout
  * (n_tokens, token_offset, first_seq, last_seq, n_seqs) — one distributed
  * prefix-sum, no single-partition window. */
final case class PackSequencesOp(
    tokens: ColumnType,
    seqLen: Long) extends DatasetType with RowAligned {
  require(seqLen >= 1L, s"seqLen must be >= 1, got $seqLen")
}

/** Whitespace token count per row — EPHEMERAL pure expression, fuses into
  * the consumer's plan ([[graft.ext.TextAnalysis.tokenCount]]). */
final case class TokenCountOp(text: TextColumnType)
  extends ScoreColumnType with EphemeralOp with RowAligned

/** Composite [0,1] heuristic quality score per row
  * ([[graft.ext.TextAnalysis.qualityScore]]). */
final case class QualityScoreOp(text: TextColumnType)
  extends ScoreColumnType with EphemeralOp with RowAligned

/** N-gram-heuristic language id per row (de/en/es/fr codes or "und" —
  * [[graft.ext.TextAnalysis.langId]]). */
final case class LanguageIdOp(text: TextColumnType)
  extends CategoricalColumnType with EphemeralOp with RowAligned

/** Normalized md5 document fingerprint per row
  * ([[graft.ext.TextAnalysis.fingerprintMd5]]). */
final case class FingerprintOp(text: TextColumnType)
  extends TextColumnType with EphemeralOp with RowAligned

/** Gopher-style quality gate per row: the conjunction of the word-count /
  * mean-word-length / unique-fraction / stopword rules
  * ([[graft.ext.Corpus.gopherRules]] "keep"). */
final case class GopherKeepOp(
    text: TextColumnType,
    minWords: Long = 50L,
    maxWords: Long = 100000L,
    minMeanWordLen: Double = 3.0,
    maxMeanWordLen: Double = 10.0,
    minUniqueFrac: Double = 0.2) extends BooleanColumnType with EphemeralOp with RowAligned {
  require(minWords >= 0L && maxWords >= minWords,
    s"bad word bounds [$minWords, $maxWords]")
}

/** Bigram stupid-backoff LM perplexity per row
  * ([[graft.ext.LangModel]]): fit the count model on `fitText`, score
  * `text` — value is the per-row ppl (double; empty rows null). Using the
  * SAME column for both is self-perplexity; a different fit column is the
  * external-reference-model form. Non-ephemeral on purpose: the fitted
  * counts are the expensive, corpus-wide artifact — content-addressing
  * the scored column means a 100 TB quality-scoring pass happens once per
  * (corpus, reference) pair, ever. */
final case class LmPerplexityOp(
    text: TextColumnType,
    fitText: TextColumnType) extends ScoreColumnType with RowAligned

/** CCNet-style perplexity quality tiers
  * ([[graft.ext.LangModel.ccnetBuckets]], Wenzek et al. 2020): score
  * `text` against a bigram model fit on `fitText`, split each `lang`
  * value's rows into head/middle/tail by exact perplexity-rank thirds.
  * Result `(id, lang, n_tokens, logp_u6, ppl, bucket)`, id = row index.
  * Non-ephemeral: the tiering IS the reusable curation artifact — a
  * 100 TB corpus is bucketed once per (corpus, reference, language-key)
  * triple, ever. */
final case class CcnetBucketsOp(
    text: TextColumnType,
    lang: CategoricalColumnType,
    fitText: TextColumnType) extends DatasetType with RowAligned

/** DSIR data selection over a text column ([[graft.ext.Dsir]], Xie et al.
  * 2023): importance weights of `text` rows against the `targetText`
  * corpus (hashed unigram+bigram buckets in `m`, add-`alpha` smoothing),
  * deterministic top-`k` by (weight desc, id asc). Result
  * `(id, n_feats, w_u6)`, id = row index into `text`, `w_u6` the integer
  * micro-nat weight. Non-ephemeral: the fit + scoring pass is the
  * expensive step. */
final case class DsirSelectOp(
    text: TextColumnType,
    targetText: TextColumnType,
    m: Long = 4096L,
    k: Long = 100L,
    alpha: Double = 1.0) extends DatasetType {
  // the runner narrows these to Int; an unchecked .toInt would wrap
  require(m >= 1L && m <= Int.MaxValue, s"m must be in [1, 2^31), got $m")
  require(k >= 1L && k <= Int.MaxValue, s"k must be in [1, 2^31), got $k")
  require(alpha > 0.0, s"alpha must be positive, got $alpha")
}

/** ExactSubstr span dedup over a text column
  * ([[graft.ext.Corpus.dedupSpans]], Lee et al. 2021): stride-1 k-word
  * windows, corpus-wide first occurrence survives, covered tokens of later
  * occurrences removed. Result `(id, dedup_text, n_dropped_tokens)`, id =
  * row index. Non-ephemeral: the window pass is the expensive step. */
final case class DedupSpansOp(
    text: TextColumnType,
    k: Long = 8L) extends DatasetType {
  require(k >= 1L && k <= Int.MaxValue, s"k must be in [1, 2^31), got $k")
}

/** BM25 top-k retrieval over a text column ([[graft.ext.Bm25.rank]]):
  * result `(rank, id, score_u6)`, id = row index, `score_u6` the
  * micro-unit-quantized score. Non-ephemeral: content-addressing a ranked
  * retrieval makes repeated curation queries free. */
final case class Bm25RankOp(
    text: TextColumnType,
    terms: Seq[String],
    k: Long = 10L,
    k1: Double = 1.2,
    b: Double = 0.75) extends DatasetType {
  require(terms.nonEmpty, "terms must be non-empty")
  require(k >= 1L && k <= Int.MaxValue, s"k must be in [1, 2^31), got $k")
  require(k1 >= 0.0, s"k1 must be >= 0, got $k1")
  require(b >= 0.0 && b <= 1.0, s"b must be in [0,1], got $b")
}

/** BATCH BM25 retrieval ([[graft.ext.Bm25.rankMany]]): a bounded set of
  * term-list queries priced as ONE corpus pass (union-terms stats row,
  * one tf pass, per-query two-phase top-k). `query_id` = position in
  * `queries`. Result `(query_id, rank, id, score_u6)`, id = row index.
  * Non-ephemeral: content-addressing a whole eval-suite's retrievals
  * makes the re-run free. */
final case class Bm25RankManyOp(
    text: TextColumnType,
    queries: Seq[Seq[String]],
    k: Long = 10L,
    k1: Double = 1.2,
    b: Double = 0.75) extends DatasetType {
  require(queries.nonEmpty, "queries must be non-empty")
  require(queries.forall(_.nonEmpty), "every query needs at least one term")
  require(k >= 1L && k <= Int.MaxValue, s"k must be in [1, 2^31), got $k")
  require(k1 >= 0.0, s"k1 must be >= 0, got $k1")
  require(b >= 0.0 && b <= 1.0, s"b must be in [0,1], got $b")
}

/** Reciprocal-rank fusion of two ranked-list datasets
  * ([[graft.ext.Retrieval.rrfFuse]], Cormack 2009):
  * `score = 1/(rrfK + sparse_rank) + 1/(rrfK + dense_rank)`, absent list
  * membership contributing 0 — e.g. fuse a [[Bm25RankOp]] (id column
  * `id`) with an [[AnnBruteTopKOp]] (id column `corpus_id`) into one
  * hybrid top-`n`. `sparseId`/`denseId` name each input's document-id
  * column; both inputs must carry a `rank` column. Result
  * `(rank, id, rrf_u12, sparse_rank, dense_rank)` with pico-quantized
  * fused scores. Non-ephemeral: fusing content-addressed ranked lists is
  * itself worth addressing — re-running a hybrid query is a store read. */
final case class RrfFuseOp(
    sparse: DatasetType,
    dense: DatasetType,
    sparseId: String = "id",
    denseId: String = "corpus_id",
    rrfK: Long = 60L,
    n: Long = 10L) extends DatasetType {
  require(sparseId.nonEmpty && denseId.nonEmpty,
    "sparseId/denseId must be non-empty")
  require(rrfK >= 0L && rrfK <= Int.MaxValue,
    s"rrfK must be in [0, 2^31), got $rrfK")
  require(n >= 1L && n <= Int.MaxValue, s"n must be in [1, 2^31), got $n")
}

/** MinHash+LSH near-duplicate PAIRS over a text column
  * ([[graft.ext.Dedup.minhashNearDuplicates]]): banded signatures →
  * candidate buckets → exact-Jaccard verify. Result dataset
  * `(id_a, id_b, jaccard)` where ids are the text's ROW INDICES
  * (id_a < id_b). Non-ephemeral on purpose: the LSH pass is the expensive
  * step of a dedup pipeline, and lifting it into the spec layer makes it
  * content-addressed — recomputed never, shared cross-machine like any
  * result. */
final case class MinHashNearDupPairsOp(
    text: TextColumnType,
    shingleN: Long = 3L,
    numPerms: Long = 64L,
    numBands: Long = 16L,
    threshold: Double = 0.8) extends DatasetType {
  require(shingleN >= 1L, s"shingleN must be >= 1, got $shingleN")
  require(numPerms >= 1L && numBands >= 1L && numPerms % numBands == 0L,
    s"numPerms ($numPerms) must be a positive multiple of numBands ($numBands)")
  require(threshold >= 0.0 && threshold <= 1.0,
    s"threshold must be in [0,1], got $threshold")
}

/** SimHash near-duplicate PAIRS over a text column
  * ([[graft.ext.Dedup.simhashNearDuplicates]]): 64-bit token-multiset
  * sketch, pigeonhole banding derived from `maxHamming` (guaranteed
  * recall), capped buckets. Result `(id_a, id_b, hamming)`, ids = row
  * indices. */
final case class SimHashNearDupPairsOp(
    text: TextColumnType,
    maxHamming: Long = 3L,
    maxBucket: Long = 10000L) extends DatasetType {
  require(maxHamming >= 0L && maxHamming < 64L,
    s"maxHamming must be in [0,64), got $maxHamming")
  require(maxBucket >= 2L, s"maxBucket must be >= 2, got $maxBucket")
}

/** Embedding-cosine near-duplicate PAIRS over a vector column
  * ([[graft.ext.Dedup.cosineNearDuplicates]]): random-hyperplane LSH
  * (OR-construction of `nBands` sketches), in-bucket exact-cosine verify.
  * Result `(id_a, id_b, cosine)`, ids = row indices. `dim` is the
  * embedding width (plane matrix is derived from it deterministically). */
final case class CosineNearDupPairsOp(
    vectors: VectorColumnType,
    dim: Long,
    nBands: Long = 8L,
    planesPerBand: Long = 8L,
    threshold: Double = 0.95,
    maxBucket: Long = 10000L) extends DatasetType {
  require(dim >= 1L, s"dim must be >= 1, got $dim")
  require(nBands >= 1L && planesPerBand >= 1L && planesPerBand <= 56L,
    s"bad banding: nBands=$nBands planesPerBand=$planesPerBand")
  require(threshold >= -1.0 && threshold <= 1.0,
    s"threshold must be in [-1,1], got $threshold")
}

/** SemDeDup-style semantic duplicate VERDICTS over a vector column
  * ([[graft.ext.Dedup.semanticDedup]], Abbas et al. 2023): every row
  * assigns to its max-cosine centroid — the corpus members at the given
  * ROW INDICES, so the cell structure is deterministic and externally
  * replayable — and a row with a smaller-id same-cell neighbor at cosine
  * >= `threshold` is flagged a duplicate. Cells above `maxCell` split
  * recursively by smallest-id sub-centroids (never silently skipped).
  * Result `(id, cell, leaf, keep)`, id = row index; `keep = false` is the
  * drop set. Non-ephemeral like the pair ops: the cell-join pass is the
  * expensive step, worth content-addressing. */
final case class SemanticDedupOp(
    vectors: VectorColumnType,
    centroidIds: Seq[Long],
    threshold: Double = 0.95,
    maxCell: Long = 10000L,
    splitFanout: Long = 16L,
    maxSplitDepth: Long = 6L) extends DatasetType {
  require(centroidIds.nonEmpty, "centroidIds must be non-empty")
  require(threshold >= -1.0 && threshold <= 1.0,
    s"threshold must be in [-1,1], got $threshold")
  require(maxCell >= 1L, s"maxCell must be >= 1, got $maxCell")
  require(splitFanout >= 2L, s"splitFanout must be >= 2, got $splitFanout")
  require(maxSplitDepth >= 0L, s"maxSplitDepth must be >= 0, got $maxSplitDepth")
}

/** Keep one representative per near-duplicate cluster: `pairs` (any
  * dataset with `id_a`/`id_b` row-index columns, e.g.
  * [[MinHashNearDupPairsOp]], [[SimHashNearDupPairsOp]],
  * [[CosineNearDupPairsOp]]) is closed transitively (connected
  * components) and only each cluster's min-id member survives; rows in no
  * pair are untouched. Positional contract: survivors are re-indexed
  * contiguously ([[graft.ext.Dedup.dropNearDuplicates]]). */
final case class DropNearDuplicatesOp(
    dataset: DatasetType,
    pairs: DatasetType) extends DatasetType

/** Quality-aware keep verdicts per near-duplicate cluster
  * ([[graft.ext.Dedup.keepBestPerCluster]]): `pairs` (row-index
  * `id_a`/`id_b` columns, e.g. the near-dup pair ops) is closed
  * transitively and within each cluster the max-`priority` member
  * survives — ties → smaller row index, null priorities lose — instead of
  * [[DropNearDuplicatesOp]]'s min-index accident; rows in no pair keep.
  * Value = keep boolean aligned to `priority`'s rows; compose with
  * [[MaskRowsOp]] to realize the cut. Non-ephemeral: the verdicts ride
  * the pair op's expensive closure and are worth content-addressing. */
final case class KeepBestPerClusterOp(
    priority: ScoreColumnType,
    pairs: DatasetType) extends BooleanColumnType with RowAligned

/** Per-group corpus data card ([[graft.ext.Profile.corpusReport]]):
  * aligned (group, text) columns → one result row per distinct group with
  * `(group, n_docs, n_tokens, n_chars, est_distinct_texts)` — exact
  * integer totals plus the KMV distinct-text estimate at sketch size `k`
  * (deterministic function of the text SET; exact below k). Non-ephemeral:
  * a corpus-wide profile pass is worth content-addressing — the data card
  * of an immutable 100 TB corpus is computed once, ever. */
final case class CorpusStatsOp(
    group: CategoricalColumnType,
    text: TextColumnType,
    k: Long = 64L) extends DatasetType {
  require(k >= 2L && k <= 1000000L, s"k must be in [2, 1e6], got $k")
}

/** Count-Min word-frequency card ([[graft.ext.Profile.cmsSketch]] /
  * `cmsEstimate`, Cormode & Muthukrishnan 2005): the corpus word stream
  * folds into a depth×width counter matrix (bounded aggregate — the
  * shuffle carries the sketch, never the words), then the exact top-`topN`
  * words are probed against it. One row per probed word:
  * `(word, exact_cnt, est_cnt)` with est ≥ exact (one-sided collision
  * mass). Deterministic md5-salted row hashes make the whole card a pure
  * function of the corpus — content-addressable like [[CorpusStatsOp]]. */
final case class CmsWordCountsOp(
    text: TextColumnType,
    depth: Long = 4L,
    width: Long = 128L,
    topN: Long = 20L) extends DatasetType {
  require(depth >= 1L && depth <= 16L, s"depth must be in [1, 16], got $depth")
  require(width >= 2L && width <= 10000000L,
    s"width must be in [2, 1e7], got $width")
  require(topN >= 1L, s"topN must be >= 1, got $topN")
}

/** Bloom membership verdicts ([[graft.ext.Profile.bloomBitmap]] /
  * `bloomMightContain`, Bloom 1970): `reference`'s values pack into a
  * `numBits`-bit filter; every row of `value` gets the k-bit test —
  * `true` for every member (no false negatives) plus the filter's
  * deterministic false positives. The cross-snapshot dedup pre-filter as
  * a composable boolean column: feed it to [[MaskRowsOp]] to cut the
  * probable-dup candidates, or negate for the certainly-new set. */
final case class BloomMembershipOp(
    value: TextColumnType,
    reference: TextColumnType,
    numHashes: Long = 3L,
    numBits: Long = 16384L) extends BooleanColumnType with RowAligned {
  require(numHashes >= 1L && numHashes <= 16L,
    s"numHashes must be in [1, 16], got $numHashes")
  require(numBits >= 64L && numBits % 64L == 0L && numBits <= (1L << 30),
    s"numBits must be a positive multiple of 64 <= 2^30, got $numBits")
}

/** RAG chunking ([[graft.ext.Corpus.chunkWords]] over the row index):
  * one row per overlapping word window — `(row_idx, chunk_idx,
  * chunk_text, n_words)`, window i covering words `[i·stride,
  * i·stride + size)` with `stride = size − overlap`; empty/null texts
  * produce no rows. Map-only (one tokenization per row, the explode
  * never shuffles); `(row_idx, chunk_idx)` is the attribution key the
  * downstream embed/ANN/BM25 ops join back on. Non-ephemeral: chunking
  * an immutable corpus happens once per (corpus, size, overlap). */
final case class ChunkTextOp(
    text: TextColumnType,
    size: Long = 256L,
    overlap: Long = 32L) extends DatasetType {
  require(size >= 1L && size <= 1000000L,
    s"size must be in [1, 1e6], got $size")
  require(overlap >= 0L && overlap < size,
    s"overlap must be in [0, size), got $overlap")
}

/** Deterministic per-epoch training-shard layout
  * ([[graft.ext.Corpus.epochShards]] over the row index): each row gets
  * `(shard, pos)` — shard = epoch-salted replayable hash mod `numShards`
  * (map-only), pos dense within the shard (per-shard windows, no global
  * sort). A pure function of (row count, epoch, numShards): the exported
  * data order of a training run, reproducible on any cluster. */
final case class EpochShardOp(
    dataset: DatasetType,
    epoch: Long,
    numShards: Long = 32L) extends DatasetType with RowAligned {
  require(numShards >= 1L && numShards <= 10000000L,
    s"numShards must be in [1, 1e7], got $numShards")
}

/** Brute-force cosine top-k of `queries` against `corpus` (both vector
  * columns; ids are row indices): `(query_id, corpus_id, cosine, rank)`
  * with `rank <= k` ([[graft.ext.Similarity.bruteForceTopK]] — the query
  * side must be small; it is broadcast). */
final case class AnnBruteTopKOp(
    corpus: VectorColumnType,
    queries: VectorColumnType,
    k: Long = 10L) extends DatasetType {
  require(k >= 1L, s"k must be >= 1, got $k")
}

/** IVF-PQ approximate top-k of `queries` against `corpus` (vector columns;
  * ids are row indices): IVF cells from corpus members at row indices
  * `centroidIds`, per-subspace product-quantization codebooks from member
  * sub-slices at `codebookIds` (`m` subspaces), queries probe `nprobe`
  * cells and candidates score by ADC lookup
  * ([[graft.ext.Similarity.ivfPqTopK]]); `rerank > 0` re-scores that many
  * top ADC candidates with exact cosine. Result
  * `(query_id, corpus_id, score, rank)` with `rank <= k`. Explicit member
  * centroids/codewords keep the whole pipeline externally replayable, the
  * [[SemanticDedupOp]] falsifiability contract. */
final case class IvfPqTopKOp(
    corpus: VectorColumnType,
    queries: VectorColumnType,
    centroidIds: Seq[Long],
    codebookIds: Seq[Long],
    k: Long = 10L,
    m: Long = 8L,
    nprobe: Long = 2L,
    rerank: Long = 0L) extends DatasetType {
  require(k >= 1L, s"k must be >= 1, got $k")
  require(m >= 1L, s"m must be >= 1, got $m")
  require(nprobe >= 1L, s"nprobe must be >= 1, got $nprobe")
  require(rerank == 0L || rerank >= k,
    s"rerank must be 0 (off) or >= k, got $rerank (k=$k)")
  require(centroidIds.nonEmpty, "centroidIds must be non-empty")
  require(codebookIds.nonEmpty, "codebookIds must be non-empty")
}

// ---------- multimodal ops over binary columns (beyond reference) ----------

/** Image metadata really decoded from the payload bytes
  * ([[graft.ext.MediaCodecs.decodeImageMeta]] — `javax.imageio` container
  * sniff, not an extension guess). Result dataset
  * `(row_idx, width, height, format)`. Non-ephemeral: decode is CPU-bound
  * codec work worth content-addressing. */
final case class ImageMetaOp(image: BinaryColumnType) extends DatasetType with RowAligned

/** True bilinear fit-within-`maxSide` resample of every image payload
  * ([[graft.ext.MediaCodecs.resizeFit]]), re-encoded as PNG — a binary
  * column in, a binary column out, so resizes chain with [[ImageEmbedOp]]
  * or any other consumer. Aspect-preserving, never upscales. */
final case class ImageResizeOp(
    image: BinaryColumnType,
    maxSide: Long = 256L) extends BinaryColumnType with RowAligned {
  require(maxSide >= 1L, s"maxSide must be >= 1, got $maxSide")
}

/** grid×grid pixel-sample embedding over the DECODED raster
  * ([[graft.ext.MediaCodecs.gridEmbedding]]): a real (if minimal) visual
  * featurizer producing a VECTOR column — it flows into TrainClassifierOp,
  * UMAPVizOp, CosineNearDupPairsOp, AnnBruteTopKOp unchanged. A production
  * vision encoder replaces the kernel, keeping this op's identity/shape. */
final case class ImageEmbedOp(
    image: BinaryColumnType,
    grid: Long = 2L) extends VectorColumnType with RowAligned {
  require(grid >= 1L && grid <= 64L, s"grid must be in [1,64], got $grid")
}

/** RIFF/WAVE metadata + PCM statistics really parsed from the payload
  * ([[graft.ext.MediaCodecs.decodeWav]] — chunk walk, full sample scan).
  * Result dataset `(row_idx, sample_rate, channels, n_samples,
  * duration_us, rms, peak)`. */
final case class AudioMetaOp(audio: BinaryColumnType) extends DatasetType with RowAligned

/** Row-multiplying frame explosion over a concatenated-PNG stream column
  * ([[graft.ext.Multimodal.explodeFrames]]): a NEW dataset with one row per
  * frame — columns `(parent_idx, frame_idx, frame: binary)` under a fresh
  * positional identity ordered by (parent, frame). The `frame` column is a
  * standalone payload, so `SelectBinaryColumnOp(…, "frame")` feeds every
  * image op: per-frame decode/resize/embed compose through the graph. */
final case class ExplodeFramesOp(video: BinaryColumnType) extends DatasetType

/** A trained tokenizer artifact (merge list), content-addressed by the
  * corpus text column + hyperparameters — train once per corpus hash,
  * reuse from the store everywhere ([[graft.ext.Bpe.train]]). */
trait TokenizerType extends OpSpec

final case class TrainBpeTokenizerOp(
    text: TextColumnType,
    numMerges: Long = 64L) extends TokenizerType {
  require(numMerges >= 0L, s"numMerges must be >= 0, got $numMerges")
}

/** Tokenize a text column with a LEARNED tokenizer: value = array<string>
  * of subword tokens ([[graft.ext.Bpe.tokenizeColumn]]). */
final case class BpeTokenizeOp(
    tokenizer: TokenizerType,
    text: TextColumnType) extends ColumnType with RowAligned

/** Train a unigram-LM tokenizer ([[graft.ext.Unigram]], Kudo 2018 — the
  * SentencePiece family next to BPE): the artifact is the content-
  * addressed (piece, count) vocabulary; scores re-derive from counts. */
final case class TrainUnigramTokenizerOp(
    text: TextColumnType,
    seedMulti: Long = 40L,
    rounds: Long = 2L,
    pieceLen: Long = 4L) extends TokenizerType {
  require(seedMulti >= 0L, s"seedMulti must be >= 0, got $seedMulti")
  require(rounds >= 0L, s"rounds must be >= 0, got $rounds")
  require(pieceLen >= 1L, s"pieceLen must be >= 1, got $pieceLen")
}

/** Tokenize with a learned unigram model: value = array<string> of
  * Viterbi pieces, words segmented independently in order. */
final case class UnigramTokenizeOp(
    tokenizer: TokenizerType,
    text: TextColumnType) extends ColumnType with RowAligned
