package graft.ml

import org.apache.spark.ml.{Estimator, Model, Pipeline, PipelineModel, PipelineStage, Transformer}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.{DoubleArrayArrayParam, DoubleParam, IntParam, LongParam, Param, ParamMap}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Scalable kernel approximations backing the reference's RBF-kernel probe
  * names (`probe_implementations.py:78-112`: `rbf_svc`, `rbf_nusvm`,
  * `calibrated_rbf_nusvm`, `sgd_nystroem`). Exact kernel SVMs are O(n²) in
  * support vectors and cannot run at corpus scale; the production-standard
  * substitutes are explicit finite-dimensional feature maps whose inner
  * products approximate the RBF kernel, after which any LINEAR learner —
  * which Spark trains in a bounded number of distributed passes — becomes a
  * kernel method:
  *
  *   - [[RFFTransformer]] — random Fourier features (Rahimi & Recht,
  *     "Random Features for Large-Scale Kernel Machines", NeurIPS 2007):
  *     z(x) = sqrt(2/D)·cos(Wx + b), W ~ N(0, 2γ), b ~ U[0, 2π), so
  *     E[z(x)·z(y)] = exp(−γ‖x−y‖²). Data-independent, STATELESS — the
  *     map is a pure function of (seed, D, γ, dim), regenerated
  *     deterministically on every executor; nothing to persist but params.
  *   - [[NystroemEstimator]] — the Nyström method (sklearn
  *     `kernel_approximation.Nystroem`): m landmark rows, K_mm
  *     eigendecomposition on the driver (m is small by construction),
  *     z(x) = k(x, landmarks)·U·Λ^(−½). Data-DEPENDENT (adapts to the
  *     embedding distribution), m×m driver work, O(m·dim) per row after.
  *
  * Both transforms are narrow row-local maps: at 100 TB the kernel feature
  * computation distributes perfectly and the only driver state is O(m²).
  */
object KernelApprox {

  /** exp(−γ‖x−y‖²) with sequential double accumulation. */
  def rbf(x: Array[Double], y: Array[Double], gamma: Double): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { val d = x(i) - y(i); s += d * d; i += 1 }
    math.exp(-gamma * s)
  }

  // (seed, D, dim, gammaBits) → (W, b), memoized per JVM: every executor
  // derives the identical map from the params alone
  private val rffCache =
    scala.collection.concurrent.TrieMap
      .empty[(Long, Int, Int, Long), (Array[Array[Double]], Array[Double])]

  def rffWeights(seed: Long, nFeatures: Int, dim: Int,
                 gamma: Double): (Array[Array[Double]], Array[Double]) =
    rffCache.getOrElseUpdate(
      (seed, nFeatures, dim, java.lang.Double.doubleToLongBits(gamma)), {
        // java.util.Random's sequence is specified by the JDK spec —
        // identical draws on every JVM
        val rng = new java.util.Random(seed)
        val scale = math.sqrt(2.0 * gamma)
        val w = Array.fill(nFeatures)(Array.fill(dim)(rng.nextGaussian() * scale))
        val b = Array.fill(nFeatures)(rng.nextDouble() * 2.0 * math.Pi)
        (w, b)
      })
}

/** Random-Fourier-feature map as a stateless, persistable pipeline stage.
  * `gamma <= 0` means "auto": 1/dim, resolved per row batch (sklearn's
  * `gamma='auto'`; the data-dependent `'scale'` default is not replayable
  * and therefore not the default here). */
class RFFTransformer(override val uid: String)
  extends Transformer with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("rff"))

  final val inputCol = new Param[String](this, "inputCol", "input vector column")
  final val outputCol = new Param[String](this, "outputCol", "rff vector column")
  final val rffDim = new IntParam(this, "rffDim", "number of random features")
  final val gamma = new DoubleParam(this, "gamma", "rbf gamma; <=0 means 1/dim")
  final val seed = new LongParam(this, "seed", "feature-map seed")
  setDefault(inputCol -> "features", outputCol -> "rff_features",
    rffDim -> 256, gamma -> -1.0, seed -> 42L)

  def setInputCol(v: String): this.type = set(inputCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  def setRffDim(v: Int): this.type = set(rffDim, v)
  def setGamma(v: Double): this.type = set(gamma, v)
  def setSeed(v: Long): this.type = set(seed, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val d = $(rffDim); val g0 = $(gamma); val sd = $(seed)
    val f = udf { v: Vector =>
      val x = v.toArray
      val g = if (g0 > 0) g0 else 1.0 / x.length
      val (w, b) = KernelApprox.rffWeights(sd, d, x.length, g)
      val out = new Array[Double](d)
      val norm = math.sqrt(2.0 / d)
      var i = 0
      while (i < d) {
        val wi = w(i); var s = b(i); var j = 0
        while (j < x.length) { s += wi(j) * x(j); j += 1 }
        out(i) = norm * math.cos(s)
        i += 1
      }
      Vectors.dense(out)
    }
    ds.withColumn($(outputCol), f(col($(inputCol))))
  }

  override def copy(extra: ParamMap): RFFTransformer = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(inputCol)),
      s"missing input column ${$(inputCol)}")
    schema.add($(outputCol), org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
  }
}

object RFFTransformer extends DefaultParamsReadable[RFFTransformer]

/** Fitted Nyström map: landmarks + projection carried as params, so
  * persistence is plain `DefaultParamsWritable` (the model IS small —
  * O(m·dim + m²) doubles by construction). */
class NystroemModel(override val uid: String)
  extends Model[NystroemModel] with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("nystroem-model"))

  final val inputCol = new Param[String](this, "inputCol", "input vector column")
  final val outputCol = new Param[String](this, "outputCol", "nystroem vector column")
  final val gamma = new DoubleParam(this, "gamma", "rbf gamma")
  final val landmarks = new DoubleArrayArrayParam(this, "landmarks", "landmark rows")
  final val projection = new DoubleArrayArrayParam(this, "projection",
    "m×m projection U·Λ^(-1/2)")

  def setInputCol(v: String): this.type = set(inputCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  def setGamma(v: Double): this.type = set(gamma, v)
  def setLandmarks(v: Array[Array[Double]]): this.type = set(landmarks, v)
  def setProjection(v: Array[Array[Double]]): this.type = set(projection, v)

  override def transform(ds: Dataset[_]): DataFrame = {
    val g = $(gamma); val lm = $(landmarks); val proj = $(projection)
    val m = lm.length
    val f = udf { v: Vector =>
      val x = v.toArray
      val k = Array.tabulate(m)(j => KernelApprox.rbf(x, lm(j), g))
      val out = new Array[Double](m)
      var c = 0
      while (c < m) {
        var s = 0.0; var j = 0
        while (j < m) { s += k(j) * proj(j)(c); j += 1 }
        out(c) = s
        c += 1
      }
      Vectors.dense(out)
    }
    ds.withColumn($(outputCol), f(col($(inputCol))))
  }

  override def copy(extra: ParamMap): NystroemModel = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType =
    schema.add($(outputCol), org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
}

object NystroemModel extends DefaultParamsReadable[NystroemModel]

/** Nyström fit: the m landmarks are the first m rows in positional order
  * (`__row_idx` when present — the engine's deterministic row identity —
  * else a content hash order), K_mm eigendecomposed on the driver via
  * breeze. m defaults to sklearn's n_components=100 and is the ONLY
  * collected state. */
class NystroemEstimator(override val uid: String)
  extends Estimator[NystroemModel] {

  def this() = this(Identifiable.randomUID("nystroem"))

  final val inputCol = new Param[String](this, "inputCol", "input vector column")
  final val outputCol = new Param[String](this, "outputCol", "nystroem vector column")
  final val nComponents = new IntParam(this, "nComponents", "landmark count m")
  final val gamma = new DoubleParam(this, "gamma", "rbf gamma; <=0 means 1/dim")
  setDefault(inputCol -> "features", outputCol -> "nystroem_features",
    nComponents -> 100, gamma -> -1.0)

  def setInputCol(v: String): this.type = set(inputCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  def setNComponents(v: Int): this.type = set(nComponents, v)
  def setGamma(v: Double): this.type = set(gamma, v)

  override def fit(ds: Dataset[_]): NystroemModel = {
    val df = ds.toDF()
    val rowIdx = graft.ops.ColumnOps.RowIdx
    val ordered =
      if (df.columns.contains(rowIdx)) df.orderBy(col(rowIdx))
      else df.orderBy(xxhash64(col($(inputCol)).cast("string")))
    val lm = ordered.select(col($(inputCol))).limit($(nComponents))
      .collect().map(_.getAs[Vector](0).toArray)
    require(lm.nonEmpty, "Nystroem needs at least one row")
    val g = if ($(gamma) > 0) $(gamma) else 1.0 / lm(0).length
    val m = lm.length
    val kmm = breeze.linalg.DenseMatrix.tabulate(m, m)((i, j) =>
      KernelApprox.rbf(lm(i), lm(j), g))
    val eig = breeze.linalg.eigSym(kmm)
    // pseudo-inverse-sqrt: tiny/negative eigenvalues (numerical noise on a
    // PSD matrix) are dropped, matching sklearn's svd-based clipping
    val proj = Array.tabulate(m, m) { (j, c) =>
      val lam = eig.eigenvalues(c)
      if (lam > 1e-12) eig.eigenvectors(j, c) / math.sqrt(lam) else 0.0
    }
    val model = new NystroemModel(uid)
      .setInputCol($(inputCol)).setOutputCol($(outputCol))
      .setGamma(g).setLandmarks(lm).setProjection(proj)
    model.setParent(this)
    model
  }

  override def copy(extra: ParamMap): NystroemEstimator = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType =
    schema.add($(outputCol), org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
}

/** Distributed linear one-class SVM (Schölkopf et al. 2001 formulation;
  * sklearn `SGDOneClassSVM`):
  *
  *   min_{w,ρ}  ½‖w‖² − ρ + 1/(νn) Σᵢ max(0, ρ − w·xᵢ),  score = w·x − ρ
  *
  * Fit IGNORES the label column — exactly the reference's behavior
  * (`SGDOneClassSVM.fit(X, y)` discards y; the probe harness then
  * evaluates how well unsupervised outlierness aligns with the labels).
  * Training: w initialized at the feature mean (the exact ν→1 solution —
  * the kernel mean embedding), then full-batch subgradient steps on w with
  * ρ re-set each round to its optimality condition (the ν-quantile of
  * scores, where exactly νn points violate). Every step is one
  * `treeAggregate`-shaped pass over the (cached) training frame — the same
  * distributed shape as an LBFGS iteration; driver state is O(dim).
  * Returns a stock LinearSVCModel carrying (w, −ρ), so scoring is Spark
  * ML's own and the store keeps it as (w, b) in `model.json`.
  */
class OneClassLinearSVM(override val uid: String)
  extends Estimator[org.apache.spark.ml.classification.LinearSVCModel] {

  def this() = this(Identifiable.randomUID("one-class-svm"))

  final val featuresCol = new Param[String](this, "featuresCol", "features")
  final val labelCol = new Param[String](this, "labelCol",
    "accepted for harness compatibility; IGNORED (unsupervised fit)")
  final val nu = new DoubleParam(this, "nu", "target outlier fraction in (0,1)")
  final val maxIter = new IntParam(this, "maxIter", "subgradient rounds")
  setDefault(featuresCol -> "features", labelCol -> "label",
    nu -> 0.5, maxIter -> 20)

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setNu(v: Double): this.type = set(nu, v)
  def setMaxIter(v: Int): this.type = set(maxIter, v)

  override def fit(ds: Dataset[_]):
      org.apache.spark.ml.classification.LinearSVCModel = {
    val fCol = $(featuresCol); val v = $(nu); val iters = $(maxIter)
    require(v > 0.0 && v < 1.0, s"nu must be in (0,1), got $v")
    val feats = ds.toDF().select(col(fCol)).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      import org.apache.spark.ml.linalg.{Vector => MlVector}
      val n = feats.count()
      require(n > 0, "one-class SVM needs at least one row")
      // init: kernel mean (exact ν→1 solution)
      var w = feats.agg(
        org.apache.spark.ml.stat.Summarizer.mean(col(fCol)).as("m"))
        .head().getAs[MlVector]("m").toArray
      val c = 1.0 / (v * n)
      var rho = 0.0
      for (t <- 1 to iters) {
        val bw = feats.sparkSession.sparkContext.broadcast(w)
        val scoreUdf = udf { x: MlVector =>
          val xa = x.toArray; val ww = bw.value
          var s = 0.0; var i = 0
          while (i < ww.length) { s += ww(i) * xa(i); i += 1 }
          s
        }
        val scored = feats.withColumn("__s", scoreUdf(col(fCol)))
        // ρ at its optimality condition: the ν-quantile of scores
        rho = scored.stat.approxQuantile("__s", Array(v), 0.01)(0)
        // subgradient in w over the violators (score < ρ)
        val agg = scored.filter(col("__s") < rho)
          .agg(org.apache.spark.ml.stat.Summarizer
            .sum(col(fCol)).as("sv"), count(lit(1)).as("cnt"))
          .head()
        val sumViol: Array[Double] =
          if (agg.isNullAt(0)) new Array[Double](w.length)
          else agg.getAs[MlVector]("sv").toArray
        val eta = 1.0 / (1.0 + t)
        var i = 0
        while (i < w.length) {
          w(i) = (1.0 - eta) * w(i) + eta * c * sumViol(i)
          i += 1
        }
        bw.destroy()
      }
      // final ρ on the final w
      val bw = feats.sparkSession.sparkContext.broadcast(w)
      val scoreUdf = udf { x: MlVector =>
        val xa = x.toArray; val ww = bw.value
        var s = 0.0; var i = 0
        while (i < ww.length) { s += ww(i) * xa(i); i += 1 }
        s
      }
      rho = feats.withColumn("__s", scoreUdf(col(fCol)))
        .stat.approxQuantile("__s", Array(v), 0.001)(0)
      val model = org.apache.spark.ml.GraftMlBridge.svcModel(uid,
        org.apache.spark.ml.linalg.Vectors.dense(w), -rho)
      model.setFeaturesCol(fCol)
      model
    } finally feats.unpersist()
  }

  override def copy(extra: ParamMap): OneClassLinearSVM = defaultCopy(extra)
  override def transformSchema(schema: StructType): StructType = schema
}

/** A (kernel feature map → linear estimator) pair exposed as ONE estimator
  * with the `setFeaturesCol`/`setLabelCol` surface the probe harness
  * drives reflectively. fit() returns a stock [[PipelineModel]] whose
  * stages the store keeps in `model.json` ([[ModelCodec]]). */
class KernelClassifier(
    override val uid: String,
    kernelStage: PipelineStage,
    inner: Estimator[_ <: Model[_]])
  extends Estimator[PipelineModel] {

  def this(kernelStage: PipelineStage, inner: Estimator[_ <: Model[_]]) =
    this(Identifiable.randomUID("kernel-clf"), kernelStage, inner)

  private var featuresCol: String = "features"
  private var labelCol: String = "label"
  def setFeaturesCol(v: String): this.type = { featuresCol = v; this }
  def setLabelCol(v: String): this.type = { labelCol = v; this }

  private def call(target: AnyRef, method: String, arg: String): Unit =
    target.getClass.getMethod(method, classOf[String]).invoke(target, arg)

  override def fit(ds: Dataset[_]): PipelineModel = {
    val kfeat = "__kernel_feat"
    call(kernelStage, "setInputCol", featuresCol)
    call(kernelStage, "setOutputCol", kfeat)
    call(inner, "setFeaturesCol", kfeat)
    call(inner, "setLabelCol", labelCol)
    new Pipeline().setStages(Array(kernelStage, inner)).fit(ds)
  }

  override def copy(extra: ParamMap): KernelClassifier = this
  override def transformSchema(schema: StructType): StructType = schema
}
