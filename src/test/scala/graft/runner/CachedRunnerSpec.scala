package graft.runner

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import graft.spec._

/** Cross-machine sharing through a shared store (reference
  * `tests` of `runners/cached_runner.py` semantics): write-through on
  * persist, read-through on miss, completed-only status caching.
  * Two runners with separate caches stand in for two machines.
  */
class CachedRunnerSpec extends SparkTestBase {

  private def inline(n: Int = 10): LoadInlineJsonDatasetOp =
    LoadInlineJsonDatasetOp(Map(
      "label" -> (0 until n).map(i => if (i % 2 == 0) "a" else "b"),
      "score" -> (0 until n).map(i => i.toDouble)))

  private def newDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("write-through: a persisted result lands in both cache and shared store") {
    val shared = newDir("graft-shared-")
    val r = new CachedSparkRunner(spark, shared, newDir("graft-cache-"))
    val rid = AssignRowIDOp(inline(5))
    assert(r.toValues(rid) == Seq(0L, 1L, 2L, 3L, 4L))
    // local cache has it
    assert(Files.exists(r.opDir(rid).resolve("done")))
    // shared store has the full op dir, done marker included
    val (cls, hash) = (rid.uuid.split("_")(0), rid.uuid.split("_", 2)(1))
    val sharedOp = Paths.get(shared, cls, hash)
    assert(Files.exists(sharedOp.resolve("done")))
    assert(Files.exists(sharedOp.resolve("status.json")))
    assert(Files.isDirectory(sharedOp.resolve("result.parquet")))
  }

  test("read-through: a second machine serves the result without recomputing") {
    val shared = newDir("graft-shared-")
    val machineA = new CachedSparkRunner(spark, shared, newDir("graft-cacheA-"))
    val ds = inline(6)
    val split = AssignTrainTestSplitOp(ds, testSize = Some(0.5), randomState = 7L)
    val got = machineA.toValues(split)
    assert(got.count(_ == "test") == 3)

    // machine B: fresh empty cache, same shared store. Its isDone must be
    // true BEFORE any compute, and the values must match machine A's.
    val machineB = new CachedSparkRunner(spark, shared, newDir("graft-cacheB-"))
    assert(machineB.isDone(split))
    assert(machineB.toValues(split) == got)
    // and the pull populated B's local cache
    assert(Files.exists(machineB.opDir(split).resolve("done")))
    assert(Files.isDirectory(machineB.opDir(split).resolve("result.parquet")))
  }

  test("read-through proof of no recompute: source deleted, result still served") {
    val shared = newDir("graft-shared-")
    val dir = Files.createTempDirectory("graft-pq-")
    import spark.implicits._
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/t")
    val machineA = new CachedSparkRunner(spark, shared, newDir("graft-cacheA-"))
    val load = machineA.fromParquet(s"$dir/t")
    val rid = AssignRowIDOp(load)
    assert(machineA.toValues(rid) == Seq(0L, 1L, 2L))

    // delete the source: recomputing the chain is now IMPOSSIBLE, so a
    // successful materialize on machine B proves the shared store served it
    Files.walk(Paths.get(s"$dir/t")).sorted(java.util.Comparator.reverseOrder())
      .forEach(Files.delete(_))
    val machineB = new CachedSparkRunner(spark, shared, newDir("graft-cacheB-"))
    assert(machineB.toValues(rid) == Seq(0L, 1L, 2L))
  }

  test("model results share across machines too") {
    val shared = newDir("graft-shared-")
    val n = 40
    val ds = LoadInlineJsonDatasetOp(Map(
      "emb" -> (0 until n).map(i =>
        Seq(if (i % 2 == 0) 1.0 else -1.0, i.toDouble / n)),
      "label" -> (0 until n).map(i => if (i % 2 == 0) "pos" else "neg")))
    val x = SelectVectorColumnOp(ds, "emb")
    val cat = SelectCategoricalColumnOp(ds, "label")
    val pos = CategoryToBooleanOp(cat, Some(Seq("pos")))
    val neg = CategoryToBooleanOp(cat, Some(Seq("neg")))
    val model = TrainClassifierOp("logistic_regression", x, pos, neg,
      params = Map("max_iter" -> 10L))
    val machineA = new CachedSparkRunner(spark, shared, newDir("graft-cacheA-"))
    machineA.materialize(model)

    val machineB = new CachedSparkRunner(spark, shared, newDir("graft-cacheB-"))
    assert(machineB.isDone(model))
    val scores = machineB.toValues(ClassifierPredictOp(model, x))
      .map(_.asInstanceOf[Double])
    // perfectly separable on dim 0 → scores ordered by class
    assert(scores.grouped(2).forall { case Seq(p, q) => p > q })
  }

  test("a model.json result pushes to the shared store and pulls into another cache") {
    val shared = newDir("graft-shared-")
    val ds = LoadInlineJsonDatasetOp(Map(
      "emb" -> Seq(Seq(1.0, 0.2), Seq(0.8, 0.0), Seq(-1.0, 0.1), Seq(-0.7, 0.3)),
      "label" -> Seq("pos", "pos", "neg", "neg")))
    val x = SelectVectorColumnOp(ds, "emb")
    val cat = SelectCategoricalColumnOp(ds, "label")
    val model = TrainClassifierOp("difference_of_means", x,
      CategoryToBooleanOp(cat, Some(Seq("pos"))), CategoryToBooleanOp(cat, Some(Seq("neg"))))
    def lr(m: org.apache.spark.ml.Transformer) =
      m.asInstanceOf[org.apache.spark.ml.PipelineModel].stages.last
        .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    val machineA = new CachedSparkRunner(spark, shared, newDir("graft-cacheA-"))
    val fitted = lr(machineA.toModel(model))
    val (cls, hash) = (model.uuid.takeWhile(_ != '_'), model.uuid.dropWhile(_ != '_').drop(1))
    assert(Files.exists(Paths.get(shared, cls, hash, "model.json")))
    assert(Files.exists(Paths.get(shared, cls, hash, "done")))

    val machineB = new CachedSparkRunner(spark, shared, newDir("graft-cacheB-"))
    assert(machineB.isDone(model))
    assert(Files.exists(machineB.opDir(model).resolve("model.json")))
    val pulled = lr(machineB.toModel(model))
    assert(pulled.coefficients == fitted.coefficients && pulled.intercept == fitted.intercept)
  }

  test("push is first-writer-wins: a complete shared result is never merged into") {
    val shared = newDir("graft-shared-")
    val rid = AssignRowIDOp(inline(4))
    // machine A publishes the result
    val machineA = new CachedSparkRunner(spark, shared, newDir("graft-cacheA-"))
    machineA.materialize(rid)
    val (cls, hash) = (rid.uuid.split("_")(0), rid.uuid.split("_", 2)(1))
    val sharedParquet = Paths.get(shared, cls, hash, "result.parquet")
    def partFiles() = {
      val s = Files.walk(sharedParquet)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
      } finally s.close()
    }
    val before = partFiles()

    // machine B computes the same op concurrently (empty cache, so it does
    // NOT see A's result if it already started) and pushes afterwards; the
    // shared parquet dir must be byte-identical to A's — a per-file merge
    // would union both runs' differently-named part files (row duplication)
    val machineB = new CachedSparkRunner(spark, shared, newDir("graft-cacheB-")) {
      override def isDone(op: OpSpec): Boolean = // simulate the race: B
        Files.exists(opDir(op).resolve("done"))  // never reads the shared tier
    }
    machineB.materialize(rid)
    assert(partFiles() == before,
      "a concurrent push must not merge part files into a complete result")
    assert(machineA.toValues(rid) == Seq(0L, 1L, 2L, 3L))
  }

  test("status: completed cached locally, running/failed read through uncached") {
    val shared = newDir("graft-shared-")
    val cache = newDir("graft-cache-")
    val r = new CachedSparkRunner(spark, shared, cache)
    val rid = AssignRowIDOp(inline(3))
    val (cls, hash) = (rid.uuid.split("_")(0), rid.uuid.split("_", 2)(1))

    // plant a RUNNING status only in the shared store (another machine is
    // mid-compute): read shows it, but it must NOT be cached locally
    val sharedOp = Paths.get(shared, cls, hash)
    Files.createDirectories(sharedOp)
    Files.writeString(sharedOp.resolve("status.json"), Json.renderPretty(
      OpStatus(rid.uuid, OpState.Running, startedAt = Some("t0")).toJson))
    assert(r.status(rid).state == OpState.Running)
    assert(!Files.exists(Paths.get(cache, cls, hash, "status.json")))

    // flip it to COMPLETED remotely: the read caches the snapshot
    Files.writeString(sharedOp.resolve("status.json"), Json.renderPretty(
      OpStatus(rid.uuid, OpState.Completed, startedAt = Some("t0"),
        completedAt = Some("t1"), resultFormat = Some("parquet"),
        graph = Some(Graph.serialize(rid))).toJson))
    assert(r.status(rid).state == OpState.Completed)
    assert(Files.exists(Paths.get(cache, cls, hash, "status.json")))
  }

  test("Runner factory: a cache path selects the tiered runner, memoized") {
    Runner.reset()
    val shared = newDir("graft-shared-")
    val cachePath = newDir("graft-cache-")
    val tiered = Runner(spark, shared, cachePath)
    assert(tiered.isInstanceOf[CachedSparkRunner])
    assert(Runner(spark, shared, cachePath) eq tiered) // singleton per config
    val plain = Runner(spark, shared)
    assert(!plain.isInstanceOf[CachedSparkRunner])
    assert(plain ne tiered)
    Runner.reset()
  }

  test("pull replaces a dirty done-less cache dir instead of merging into it") {
    val shared = newDir("graft-shared-")
    val machineA = new CachedSparkRunner(spark, shared, newDir("graft-cacheA-"))
    val rid = AssignRowIDOp(inline(4))
    machineA.materialize(rid)
    val expected = machineA.toValues(rid)

    // machine B crashed mid-run: its cache op dir holds a COMPLETE set of
    // committed part files (cloned from A's result under different names,
    // exactly what a crashed write leaves) but no `done` marker
    val cacheB = newDir("graft-cacheB-")
    val (cls, hash) = (rid.uuid.split("_")(0), rid.uuid.split("_", 2)(1))
    val dirtyPq = Paths.get(cacheB, cls, hash, "result.parquet")
    Files.createDirectories(dirtyPq)
    val aParts = {
      val s = Files.walk(machineA.opDir(rid).resolve("result.parquet"))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      } finally s.close()
    }
    aParts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f, dirtyPq.resolve(s"part-crashed-$i-${f.getFileName}"))
    }

    // B pulls through isDone: the dirty dir must be REPLACED by the shared
    // copy — a per-file merge would keep both part sets and double the rows
    val machineB = new CachedSparkRunner(spark, shared, cacheB)
    assert(machineB.isDone(rid))
    assert(machineB.toValues(rid) == expected,
      "pull into a dirty cache dir must not duplicate rows")
  }

  test("concurrent pulls of the same op converge to one complete cache dir") {
    val shared = newDir("graft-shared-")
    val seeder = new CachedSparkRunner(spark, shared, newDir("graft-cacheS-"))
    val rid = AssignRowIDOp(inline(64))
    seeder.materialize(rid)
    val expected = seeder.toValues(rid)

    // many threads race isDone→pull on a cold cache; the per-uuid lock +
    // per-attempt tmp dirs must serialize them into exactly one complete
    // result (the pre-fix pid-only tmp path let racing threads wipe each
    // other's staging and publish a partial dir whose `done` was present)
    val cacheB = newDir("graft-cacheB-")
    val machineB = new CachedSparkRunner(spark, shared, cacheB)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean = machineB.isDone(rid)
        }))
      assert(futures.forall(_.get()), "every racing pull must see done")
    } finally pool.shutdown()
    // no stray staging dirs left behind
    val parent = machineB.opDir(rid).getParent
    val leftovers = {
      val s = Files.list(parent)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.contains(".pull")).toList
      } finally s.close()
    }
    assert(leftovers.isEmpty, s"staging dirs left behind: $leftovers")
    assert(machineB.toValues(rid) == expected)
  }

  test("a stale local transient status does not shadow a remote completion") {
    val shared = newDir("graft-shared-")
    val cache = newDir("graft-cache-")
    val r = new CachedSparkRunner(spark, shared, cache)
    val rid = AssignRowIDOp(inline(3))
    val (cls, hash) = (rid.uuid.split("_")(0), rid.uuid.split("_", 2)(1))

    // local cache holds a stale RUNNING snapshot (e.g. a crashed run)
    val localOp = Paths.get(cache, cls, hash)
    Files.createDirectories(localOp)
    Files.writeString(localOp.resolve("status.json"), Json.renderPretty(
      OpStatus(rid.uuid, OpState.Running, startedAt = Some("t0")).toJson))
    // the shared store has since completed
    val sharedOp = Paths.get(shared, cls, hash)
    Files.createDirectories(sharedOp)
    Files.writeString(sharedOp.resolve("status.json"), Json.renderPretty(
      OpStatus(rid.uuid, OpState.Completed, startedAt = Some("t0"),
        completedAt = Some("t1"), resultFormat = Some("parquet"),
        graph = Some(Graph.serialize(rid))).toJson))

    assert(r.status(rid).state == OpState.Completed,
      "status() must fall through to the shared store past a non-terminal local snapshot")
  }

  test("uuidToOp rehydrates a remote transient without caching its status") {
    val shared = newDir("graft-shared-")
    val cache = newDir("graft-cache-")
    val r = new CachedSparkRunner(spark, shared, cache)
    val rid = AssignRowIDOp(inline(3))
    val (cls, hash) = (rid.uuid.split("_")(0), rid.uuid.split("_", 2)(1))

    val sharedOp = Paths.get(shared, cls, hash)
    Files.createDirectories(sharedOp)
    Files.writeString(sharedOp.resolve("status.json"), Json.renderPretty(
      OpStatus(rid.uuid, OpState.Running, startedAt = Some("t0"),
        graph = Some(Graph.serialize(rid))).toJson))

    assert(r.uuidToOp(rid.uuid) == rid)
    assert(!Files.exists(Paths.get(cache, cls, hash, "status.json")),
      "a transient remote status must not be planted in the local cache")
    // once completed remotely, rehydration caches the terminal snapshot
    Files.writeString(sharedOp.resolve("status.json"), Json.renderPretty(
      OpStatus(rid.uuid, OpState.Completed, startedAt = Some("t0"),
        completedAt = Some("t1"), resultFormat = Some("parquet"),
        graph = Some(Graph.serialize(rid))).toJson))
    assert(r.uuidToOp(rid.uuid) == rid)
    assert(Files.exists(Paths.get(cache, cls, hash, "status.json")))
  }

  test("uuidToOp on a corrupt remote status.json names the uuid and the file") {
    val shared = newDir("graft-shared-")
    val r = new CachedSparkRunner(spark, shared, newDir("graft-cache-"))
    val rid = AssignRowIDOp(inline(3))
    val (cls, hash) = (rid.uuid.split("_")(0), rid.uuid.split("_", 2)(1))
    val remote = Paths.get(shared, cls, hash, "status.json")
    Files.createDirectories(remote.getParent)
    Files.writeString(remote, "{\"uuid\": \"" + rid.uuid + "\", \"sta")
    val e = intercept[IllegalStateException](r.uuidToOp(rid.uuid))
    assert(e.getMessage.contains(rid.uuid) && e.getMessage.contains(remote.toString))
  }

  test("uuidToOp rehydrates from the shared store on a fresh machine") {
    val shared = newDir("graft-shared-")
    val machineA = new CachedSparkRunner(spark, shared, newDir("graft-cacheA-"))
    val rid = AssignRowIDOp(inline(4))
    machineA.materialize(rid)

    val machineB = new CachedSparkRunner(spark, shared, newDir("graft-cacheB-"))
    val rehydrated = machineB.uuidToOp(rid.uuid)
    assert(rehydrated == rid)
    assert(machineB.listStore().contains(rid.uuid))
  }
}
