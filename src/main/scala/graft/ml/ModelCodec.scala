package graft.ml

import java.nio.file.Path

import org.apache.spark.ml.{GraftMlBridge, PipelineModel, Transformer}
import org.apache.spark.ml.classification.{LinearSVCModel, LogisticRegressionModel}
import org.apache.spark.ml.feature.StandardScalerModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.util.MLWritable
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** The store format of a fitted model. The reference pickles each model to
  * one small file (`local_arrow_runner.py:466-497`); here a model whose
  * every stage has a known shape is one JSON document, `model.json`,
  * written and read without a Spark job. Each stage is Spark's own param
  * metadata (the class, uid and param JSON `DefaultParamsWriter` records)
  * plus the fitted state of the stages that carry any. Known shapes:
  *   - params-only stages, whose writer is `DefaultParamsWriter`
  *     (`Normalizer`, `IndexToString`, [[RFFTransformer]],
  *     [[NystroemModel]], [[QuantizedCentroidModel]], [[ExactSvmModel]]);
  *   - `LogisticRegressionModel`, binary and multinomial: coefficient
  *     matrix, intercept vector, class count;
  *   - `LinearSVCModel`: coefficients and intercept;
  *   - `StandardScalerModel`: std and mean;
  *   - a `PipelineModel` of known stages, nested pipelines included.
  * Any other stage (trees, naive Bayes, one-vs-rest), or a coefficient that
  * is not finite (JSON carries no NaN or Infinity), makes the model a
  * `model/` directory written by Spark ML's `MLWritable` writer instead —
  * the format of every model stored before `model.json` existed.
  */
object ModelCodec {

  /** `model.json` text, or None when a stage has an unknown shape or a
    * non-finite coefficient. */
  def encode(model: Transformer, spark: SparkSession): Option[String] =
    record(model, spark).map(j => compact(render(j)))

  def decode(json: String): Transformer = stage(parse(json))

  /** The `model/` directory form: Spark ML's writer and reader. */
  def saveDir(model: Transformer, dir: Path): Unit =
    model.asInstanceOf[MLWritable].write.overwrite().save(dir.toString)

  def loadDir(dir: Path): Transformer = PipelineModel.load(dir.toString)

  private val PipelineClass = classOf[PipelineModel].getName
  private val LogisticClass = classOf[LogisticRegressionModel].getName
  private val SvcClass = classOf[LinearSVCModel].getName
  private val ScalerClass = classOf[StandardScalerModel].getName

  private def finite(xs: Array[Double]): Boolean =
    xs.forall(x => !x.isNaN && !x.isInfinite)

  private def record(t: Transformer, spark: SparkSession): Option[JValue] = {
    def withState(state: (String, JValue)*): Option[JValue] =
      Some(parse(GraftMlBridge.metadataJson(t, spark, JObject(state.toList))))
    def vec(v: Vector): JValue = parse(GraftMlBridge.vectorJson(v))
    t match {
      case p: PipelineModel =>
        val stages = p.stages.toList.map(record(_, spark))
        if (stages.forall(_.isDefined)) withState("stages" -> JArray(stages.flatten))
        else None
      case m: LogisticRegressionModel =>
        // the family is a private flag: a binomial model has one coefficient
        // row and a multinomial one a row per class, which tells them apart
        // only when there are at least two classes
        if (m.numClasses < 2 ||
            !finite(m.coefficientMatrix.toArray ++ m.interceptVector.toArray)) None
        else withState(
          "numClasses" -> JInt(m.numClasses),
          "isMultinomial" -> JBool(m.coefficientMatrix.numRows > 1),
          "coefficientMatrix" -> parse(GraftMlBridge.matrixJson(m.coefficientMatrix)),
          "interceptVector" -> vec(m.interceptVector))
      case m: LinearSVCModel =>
        if (!finite(m.coefficients.toArray :+ m.intercept)) None
        else withState("coefficients" -> vec(m.coefficients),
          "intercept" -> JDouble(m.intercept))
      case m: StandardScalerModel =>
        if (!finite(m.std.toArray ++ m.mean.toArray)) None
        else withState("std" -> vec(m.std), "mean" -> vec(m.mean))
      case _ if GraftMlBridge.isParamsOnly(t) => withState()
      case _ => None
    }
  }

  private def stage(j: JValue): Transformer = {
    def str(key: String): String = j \ key match {
      case JString(s) => s
      case other => throw new IllegalArgumentException(s"model.json: bad $key: $other")
    }
    def num(key: String): Double = j \ key match {
      case JDouble(d) => d
      case JInt(i) => i.toDouble
      case other => throw new IllegalArgumentException(s"model.json: bad $key: $other")
    }
    def vec(key: String): Vector = GraftMlBridge.vectorFromJson(compact(render(j \ key)))
    val uid = str("uid")
    val bare: Transformer = str("class") match {
      case PipelineClass => j \ "stages" match {
        case JArray(stages) => GraftMlBridge.pipelineModel(uid, stages.map(stage).toArray)
        case other => throw new IllegalArgumentException(s"model.json: bad stages: $other")
      }
      case LogisticClass =>
        GraftMlBridge.logisticModel(uid,
          GraftMlBridge.matrixFromJson(compact(render(j \ "coefficientMatrix"))),
          vec("interceptVector"), num("numClasses").toInt,
          j \ "isMultinomial" == JBool(true))
      case SvcClass => GraftMlBridge.svcModel(uid, vec("coefficients"), num("intercept"))
      case ScalerClass => GraftMlBridge.scalerModel(uid, vec("std"), vec("mean"))
      case other => GraftMlBridge.newParamsOnly(other, uid).asInstanceOf[Transformer]
    }
    GraftMlBridge.restoreParams(bare, compact(render(j)))
  }
}
