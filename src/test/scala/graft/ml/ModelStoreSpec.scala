package graft.ml

import java.nio.file.{Files, Path}

import org.apache.spark.ml.{GraftMlBridge, Transformer}
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.spec._
import graft.runner.LocalSparkRunner

/** The model store ([[ModelCodec]]): every registered model type, with every
  * preprocessing it accepts, trains, persists, and comes back through a
  * fresh runner predicting exactly what the in-memory model predicted;
  * known shapes land as `model.json`, the rest as a Spark ML `model/`
  * directory, and `model/` directories of older stores keep serving. */
class ModelStoreSpec extends SparkTestBase with graft.ops.StoredSchemaPins {

  private val RowIdx = graft.ops.ColumnOps.RowIdx

  /** 6-d, two classes split on v0 + v1, every value in [-1, 1]. */
  private val binary: LoadInlineJsonDatasetOp = {
    val rng = new scala.util.Random(11)
    val vecs = (0 until 80).map(_ => Seq.fill(6)(rng.nextDouble() * 2 - 1))
    LoadInlineJsonDatasetOp(Map(
      "emb" -> vecs,
      "cls" -> vecs.map(v => if (v.head + v(1) > 0) "pos" else "neg")))
  }

  /** 4-d, three separated clusters, every value in [-1, 1]. */
  private val multi: LoadInlineJsonDatasetOp = {
    val rng = new scala.util.Random(7)
    val labs = Seq("alpha", "beta", "gamma")
    val rows = (0 until 90).map { i =>
      val c = i % 3
      (Seq.tabulate(4)(d => (if (d == c) 0.4 else 0.0) + (rng.nextDouble() - 0.5) * 0.2),
        labs(c))
    }
    LoadInlineJsonDatasetOp(Map("emb" -> rows.map(_._1), "cls" -> rows.map(_._2)))
  }

  // small ensembles: the stored shape does not depend on the tree count
  private val treeParams: Map[String, Any] = Map("n_estimators" -> 5L, "max_depth" -> 3L)

  private val binaryDirs = Set("random_forest", "naive_bayes", "gbt")
  private val multiDirs = Set("one_vs_rest_svc", "one_vs_rest_logistic",
    "random_forest", "decision_tree", "naive_bayes")

  private def features(r: LocalSparkRunner, x: OpSpec): DataFrame =
    r.toFrame(x).select(col(RowIdx),
      array_to_vector(col(r.ValueCol).cast("array<double>")).as("__feat"))

  /** Every output row of `model` over `feats`, in row order. */
  private def outputs(model: Transformer, feats: DataFrame): Seq[org.apache.spark.sql.Row] =
    model.transform(feats).orderBy(col(RowIdx)).collect().toSeq

  /** Train through one runner, read back through a fresh one on the same
    * store; returns the stored form ("model.json" or "model"). */
  private def roundTrip(train: OpSpec, x: OpSpec): String = {
    val store = newStoreDir()
    val r1 = new LocalSparkRunner(spark, store)
    val inMemory = r1.toModel(train)
    val dir = r1.opDir(train)
    val form = Seq("model.json", "model").filter(f => Files.exists(dir.resolve(f)))
    assert(form.size == 1, s"${train.uuid}: stored as $form")
    val r2 = new LocalSparkRunner(spark, store)
    val loaded = r2.toModel(train)
    assert(loaded ne inMemory)
    val feats = features(r2, x)
    assert(outputs(loaded, feats) == outputs(inMemory, feats), s"${train.uuid} (${form.head})")
    form.head
  }

  test("every binary model type round-trips bit for bit; known shapes as model.json") {
    val x = SelectVectorColumnOp(binary, "emb")
    val cls = SelectCategoricalColumnOp(binary, "cls")
    val pos = CategoryToBooleanOp(cls, Some(Seq("pos")))
    val neg = CategoryToBooleanOp(cls, Some(Seq("neg")))
    for (name <- ClassifierRegistry.names; prep <- Seq("none", "standardize", "normalize")) {
      val params = if (binaryDirs(name)) treeParams else Map.empty[String, Any]
      val form = roundTrip(TrainClassifierOp(name, x, pos, neg, None, prep, params), x)
      assert(form == (if (binaryDirs(name)) "model" else "model.json"), s"$name/$prep")
    }
  }

  test("every multiclass model type round-trips bit for bit; known shapes as model.json") {
    val x = SelectVectorColumnOp(multi, "emb")
    val cls = SelectCategoricalColumnOp(multi, "cls")
    for (name <- MulticlassRegistry.names; prep <- Seq("none", "standardize", "normalize")
         if !(name == "nearest_centroid" && prep == "standardize")) {
      val params = if (multiDirs(name)) treeParams else Map.empty[String, Any]
      val form = roundTrip(TrainMulticlassClassifierOp(name, x, cls, None, prep, params), x)
      assert(form == (if (multiDirs(name)) "model" else "model.json"), s"$name/$prep")
    }
  }

  test("a model/ directory written by Spark ML's writer still serves") {
    val x = SelectVectorColumnOp(binary, "emb")
    val cls = SelectCategoricalColumnOp(binary, "cls")
    val train = TrainClassifierOp("logistic_regression", x,
      CategoryToBooleanOp(cls, Some(Seq("pos"))), CategoryToBooleanOp(cls, Some(Seq("neg"))),
      None, "standardize")
    val store = newStoreDir()
    val r1 = new LocalSparkRunner(spark, store)
    val inMemory = r1.toModel(train)
    // the layout of a store written before model.json existed
    val dir = r1.opDir(train)
    Files.delete(dir.resolve("model.json"))
    ModelCodec.saveDir(inMemory, dir.resolve("model"))
    val loaded = new LocalSparkRunner(spark, store).toModel(train)
    val feats = features(r1, x)
    assert(outputs(loaded, feats) == outputs(inMemory, feats))
  }

  test("a non-finite coefficient falls back to model/") {
    val lr: LogisticRegressionModel =
      GraftMlBridge.logisticModel("lr-nan", Vectors.dense(Double.NaN, 1.0), 0.5)
    lr.setFeaturesCol("__feat")
    val model = GraftMlBridge.pipelineModel("pipe-nan", Array(lr))
    assert(ModelCodec.encode(model, spark).isEmpty)
    val op = TrainClassifierOp("difference_of_means", SelectVectorColumnOp(binary, "emb"),
      CategoryToBooleanOp(SelectCategoricalColumnOp(binary, "cls"), Some(Seq("pos"))),
      CategoryToBooleanOp(SelectCategoricalColumnOp(binary, "cls"), Some(Seq("neg"))))
    val store = newStoreDir()
    val r1 = new LocalSparkRunner(spark, store)
    r1.writeModel(op, model)
    val dir: Path = r1.opDir(op)
    assert(Files.isDirectory(dir.resolve("model")) && !Files.exists(dir.resolve("model.json")))
    val back = new LocalSparkRunner(spark, store).toModel(op)
      .asInstanceOf[org.apache.spark.ml.PipelineModel].stages.head
      .asInstanceOf[LogisticRegressionModel]
    assert(back.coefficients(0).isNaN && back.coefficients(1) == 1.0 && back.intercept == 0.5)
  }
}
