package graft.ml

import org.apache.spark.ml.{Estimator, GraftMlBridge}
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.param.{Param, ParamMap}
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Difference-of-means linear probe: w = μ⁺ − μ⁻, bias at the class
  * midpoint, scored through the standard logistic link.
  *
  * This is the classic closed-form direction used on LLM activations
  * (mass-mean probing / steering vectors); unlike the reference's iterative
  * sklearn estimators (`probe_implementations.py:29-120`) it trains in ONE
  * distributed aggregation pass — per-class vector means via map-side
  * partial `Summarizer.mean`, a 2-row collect, O(dim) driver state — so
  * training cost is a single scan regardless of corpus size: the probe you
  * can afford to fit on 100 TB of activations.
  *
  * fit() returns a stock [[LogisticRegressionModel]] (built via
  * [[GraftMlBridge]]), so predict is the LBFGS path's, and the store keeps
  * it the same way: one `model.json` ([[ModelCodec]]), written and read
  * without a Spark job.
  */
class DiffOfMeansClassifier(override val uid: String)
  extends Estimator[LogisticRegressionModel] {

  def this() = this(Identifiable.randomUID("diffmeans"))

  final val featuresCol: Param[String] =
    new Param[String](this, "featuresCol", "features column (ML vector)")
  final val labelCol: Param[String] =
    new Param[String](this, "labelCol", "binary 1.0/0.0 label column")
  setDefault(featuresCol -> "features", labelCol -> "label")

  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setLabelCol(v: String): this.type = set(labelCol, v)

  override def fit(ds: Dataset[_]): LogisticRegressionModel = {
    val byClass = ds.toDF()
      .groupBy(col($(labelCol)).cast("double").as("__y"))
      .agg(Summarizer.mean(col($(featuresCol))).as("__mu"))
      .collect()
    def mu(y: Double): Vector =
      byClass.find(_.getDouble(0) == y)
        .getOrElse(throw new IllegalArgumentException(
          s"difference_of_means needs both classes; label $y has no rows"))
        .getAs[Vector](1)
    val p = mu(1.0).toArray
    val n = mu(0.0).toArray
    require(p.length == n.length, "class mean dimensionality mismatch")
    val w = Array.tabulate(p.length)(i => p(i) - n(i))
    // decision boundary at the midpoint between the class means:
    // w·x + b = 0 when x = (μ⁺+μ⁻)/2
    val b = -0.5 * w.indices.map(i => w(i) * (p(i) + n(i))).sum
    val model = GraftMlBridge.logisticModel(uid, Vectors.dense(w), b)
    model.setFeaturesCol($(featuresCol))
    model
  }

  override def copy(extra: ParamMap): DiffOfMeansClassifier = defaultCopy(extra)

  override def transformSchema(schema: StructType): StructType = {
    require(schema.fieldNames.contains($(featuresCol)),
      s"missing features column ${$(featuresCol)}")
    schema
  }
}

object DiffOfMeans {

  /** The same per-dimension mean-difference computed in EXACT arithmetic:
    * values quantized to 1e-6 on the way in, per-(dimension, class) LONG
    * sums (order-independent, overflow-safe to ~9e12 rows), one double
    * division at the end. This is the oracle-checkable mirror of
    * [[DiffOfMeansClassifier]] — float summation order differs between any
    * two engines (and between two partitionings of the same engine), so the
    * hash-compared form must aggregate in integers. Output: (dim, w).
    */
  def weightsExact(df: DataFrame, vec: org.apache.spark.sql.Column,
                   isPos: org.apache.spark.sql.Column): DataFrame =
    df.select(isPos.as("__pos"), posexplode(vec))
      .select(col("__pos"), col("pos").cast("long").as("dim"),
        round(col("col").cast("double") * 1e6).cast("long").as("__q"))
      .groupBy(col("dim"))
      .agg(
        sum(when(col("__pos"), col("__q"))).as("__sp"),
        count(when(col("__pos"), lit(1))).as("__np"),
        sum(when(!col("__pos"), col("__q"))).as("__sn"),
        count(when(!col("__pos"), lit(1))).as("__nn"))
      .select(col("dim"),
        (col("__sp").cast("double") / col("__np") / 1e6 -
          col("__sn").cast("double") / col("__nn") / 1e6).as("w"))

  /** Quantized-exact INFERENCE over the [[weightsExact]] direction: weights
    * quantized to 1e-9, inputs to 1e-6, score = Σ qw·qx / 1e15. Every
    * product is an integer ≤ ~1e13 and the 64-term sum stays < 2⁵³, so the
    * double accumulation in the native dot kernel is EXACT in any order —
    * the whole train→score pipeline is hash-comparable across engines
    * (IEEE float dots are summation-order-dependent; integer-valued doubles
    * are not). The fitted weights collapse to a bounded plan literal
    * (O(dim), the model IS small) — scoring is one scan, no join, no
    * shuffle: the plan shape quantized inference should have at 100 TB.
    */
  def scoresExact(df: DataFrame, idCol: org.apache.spark.sql.Column,
                  vec: org.apache.spark.sql.Column,
                  isPos: org.apache.spark.sql.Column,
                  maxAbsInput: Double = 1.0): DataFrame = {
    val qw: Array[Double] = weightsExact(df, vec, isPos)
      .select(col("dim"), round(col("w") * 1e9).cast("long").as("qw"))
      .collect().sortBy(_.getLong(0)).map(_.getLong(1).toDouble)
    // the exactness contract is a REAL precondition, not a comment: every
    // partial sum must stay below 2^53 or the accumulation order starts to
    // matter again. |qx| ≤ maxAbsInput·1e6 by quantization; enforce
    // max|qw| · max|qx| · dim < 2^53 up front.
    val qwAbsMax = if (qw.isEmpty) 0.0 else qw.map(math.abs).max
    val bound = qwAbsMax * (maxAbsInput * 1e6) * math.max(qw.length, 1)
    require(bound < (1L << 53).toDouble,
      f"quantized dot may exceed 2^53 ($bound%.3g): inputs larger than " +
        f"maxAbsInput=$maxAbsInput or weights too large for exact scoring")
    val qwLit = array(qw.map(lit): _*)
    val qx = transform(vec, x => round(x.cast("double") * 1e6))
    df.select(idCol.as("vec_id"),
      (graft.ext.VectorKernels.dot(qx, qwLit) / 1e15).as("score"))
  }
}
