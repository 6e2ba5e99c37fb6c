package org.apache.spark.ml

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.feature.StandardScalerModel
import org.apache.spark.ml.linalg.{JsonMatrixConverter, JsonVectorConverter, Matrix, Vector}
import org.apache.spark.ml.param.Params
import org.apache.spark.ml.util.{DefaultParamsReader, DefaultParamsWriter, MLWritable}
import org.apache.spark.sql.SparkSession
import org.json4s.JObject

/** Bridge into Spark ML's `private[spark]` model constructors and param
  * metadata. Two users:
  *   - graft's closed-form estimators build stock models from coefficients
  *     they computed themselves (difference-of-means fits one aggregation
  *     pass, no iterative estimator), so `transform` is the stock one;
  *   - [[graft.ml.ModelCodec]] stores and restores fitted models as one
  *     JSON document: each stage's params in Spark's own metadata JSON, its
  *     fitted state rebuilt through the stock constructors.
  * The sibling of `sql.GraftColumnBridge` — the only two files in the repo
  * outside the `graft` namespace.
  */
object GraftMlBridge {
  def logisticModel(uid: String, coefficients: Vector,
                    intercept: Double): LogisticRegressionModel =
    new LogisticRegressionModel(uid, coefficients, intercept)

  def logisticModel(uid: String, coefficientMatrix: Matrix, interceptVector: Vector,
                    numClasses: Int, isMultinomial: Boolean): LogisticRegressionModel =
    new LogisticRegressionModel(uid, coefficientMatrix, interceptVector,
      numClasses, isMultinomial)

  /** Stock LinearSVCModel from externally-computed (w, b): rawPrediction =
    * [-m, m] with m = w·x + b — used by the one-class SVM, whose decision
    * score w·z(x) − ρ is exactly this margin form. (The constructor is
    * `private[classification]`, hence the sub-package bridge.) */
  def svcModel(uid: String, coefficients: Vector,
               intercept: Double): classification.LinearSVCModel =
    classification.GraftSvcBridge.svcModel(uid, coefficients, intercept)

  def scalerModel(uid: String, std: Vector, mean: Vector): StandardScalerModel =
    new StandardScalerModel(uid, std, mean)

  def pipelineModel(uid: String, stages: Array[Transformer]): PipelineModel =
    new PipelineModel(uid, stages)

  /** True when the stage's whole state is its params: its writer is Spark's
    * `DefaultParamsWriter`. */
  def isParamsOnly(stage: Params): Boolean = stage match {
    case w: MLWritable => w.write.isInstanceOf[DefaultParamsWriter]
    case _ => false
  }

  /** An empty instance of a params-only stage class, by name and uid (what
    * `DefaultParamsReader` does before it sets the params). */
  def newParamsOnly(className: String, uid: String): Params = {
    val stage = org.apache.spark.util.Utils.classForName(className)
      .getConstructor(classOf[String]).newInstance(uid).asInstanceOf[Params]
    require(isParamsOnly(stage), s"$className is not a params-only stage")
    stage
  }

  /** The stage's class, uid and params as Spark's metadata JSON, with
    * `extra` merged in at the top level. Runs no Spark job. */
  def metadataJson(stage: Params, spark: SparkSession, extra: JObject): String =
    DefaultParamsWriter.getMetadataToSave(stage, spark, Some(extra))

  /** Set the params recorded in [[metadataJson]]'s output on `stage`. */
  def restoreParams[T <: Params](stage: T, metadata: String): T = {
    DefaultParamsReader.parseMetadata(metadata, stage.getClass.getName)
      .getAndSetParams(stage)
    stage
  }

  def matrixJson(m: Matrix): String = JsonMatrixConverter.toJson(m)
  def matrixFromJson(json: String): Matrix = JsonMatrixConverter.fromJson(json)
  def vectorJson(v: Vector): String = JsonVectorConverter.toJson(v)
  def vectorFromJson(json: String): Vector = JsonVectorConverter.fromJson(json)
}

package classification {
  private[ml] object GraftSvcBridge {
    def svcModel(uid: String, coefficients: Vector,
                 intercept: Double): LinearSVCModel =
      new LinearSVCModel(uid, coefficients, intercept)
  }
}
