package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.spec._
import graft.runner.{CachedSparkRunner, FrameResult, JsonResult, LocalSparkRunner, ModelResult, OpState, StoreGc}

/** CLI entry points over serialized graphs — the Spark re-expression of the
  * reference CLI (`cli.py:538-605` run/materialize, `:373-414` status,
  * `:417-489` summary, `:492-517` print). The reference imports a user's
  * Python file; here the graph medium is the serialized {outputs, nodes}
  * JSON (our canonical cross-process format), plus store-wide commands that
  * rehydrate from status files.
  *
  * Usage:
  *   graft.Cli run        --store DIR --graph FILE [filters] [--shard-count N --shard-idx I]
  *   graft.Cli status     --store DIR [--graph FILE] [filters] [-j]
  *   graft.Cli summary    --store DIR [--graph FILE] [filters] [-j]
  *   graft.Cli print      --store DIR --graph FILE [--format code|jsonl|mermaid]
  *   graft.Cli make-group --store DIR --graph FILE [filters]
  *   graft.Cli config     [--set-runner-type T] [--set-store-uri U] [--set-cache-path P]
  *
  * `--store`/`--cache` default to the configured store/cache ([[GraphConfig]]:
  * flags > `GRAFT_*` env > `~/.config/graft/graft_config.json` > defaults —
  * the reference's source priority, `config.py:18-31`).
  *
  * Filters (all repeatable; a repeated filter ORs its patterns, distinct
  * filters AND — reference `filter_ops`, `cli.py:143-190`, `290-352`):
  *   --filter-uuid S    op uuid matches S
  *   --filter-type T    op class name matches T
  *   --filter-param P   any spec field value's string form matches P
  *   --filter-code C    pickaxe: the op's own pseudocode statement matches C
  *   --filter-state ST  runtime state ∈ {new,running,completed,failed,ephemeral}
  *   --filter-count N   keep only the first N ops after all other filters
  * A pattern "matches" exactly like the reference: string equality or
  * case-insensitive substring (`cli.py:276-281`).
  */
object Cli {

  private case class Args(
      command: String,
      storeFlag: Option[String] = None,
      cache: Option[String] = None,
      setRunnerType: Option[String] = None,
      setStoreUri: Option[String] = None,
      setCachePath: Option[String] = None,
      graph: Option[String] = None,
      filterUuid: Seq[String] = Nil,
      filterType: Seq[String] = Nil,
      filterParam: Seq[String] = Nil,
      filterCode: Seq[String] = Nil,
      filterState: Seq[String] = Nil,
      filterCount: Option[Int] = None,
      shardCount: Int = 0,
      shardIdx: Int = 0,
      parallel: Int = 1,
      olderThanDays: Option[Int] = None,
      delete: Boolean = false,
      json: Boolean = false,
      format: String = "code",
      master: String = s"local[${GraftSession.cpus}]") {
    // flag > env > config file > default (reference config.py:18-31)
    lazy val config: GraphConfig = GraphConfig.load()
    def store: String = storeFlag.getOrElse(config.storeUri)
    def cacheResolved: Option[String] =
      cache.orElse(if (config.wantsCache) Some(config.cachePath) else None)
  }

  private def parseArgs(argv: Array[String]): Args = {
    if (argv.isEmpty) usage("missing command")
    var a = Args(command = argv.head)
    var i = 1
    while (i < argv.length) {
      argv(i) match {
        case f @ ("--store" | "--cache" | "--graph" | "--filter-uuid" | "--filter-type" |
                  "--filter-param" | "--filter-code" | "--filter-state" | "--filter-count" |
                  "--shard-count" | "--shard-idx" | "--format" | "--master" | "--parallel" |
                  "--set-runner-type" | "--set-store-uri" | "--set-cache-path")
          if i + 1 >= argv.length => usage(s"$f requires a value")
        case "--store" => a = a.copy(storeFlag = Some(argv(i + 1))); i += 2
        case "--set-runner-type" => a = a.copy(setRunnerType = Some(argv(i + 1))); i += 2
        case "--set-store-uri" => a = a.copy(setStoreUri = Some(argv(i + 1))); i += 2
        case "--set-cache-path" => a = a.copy(setCachePath = Some(argv(i + 1))); i += 2
        case "--cache" => a = a.copy(cache = Some(argv(i + 1))); i += 2
        case "--graph" => a = a.copy(graph = Some(argv(i + 1))); i += 2
        case "--filter-uuid" => a = a.copy(filterUuid = a.filterUuid :+ argv(i + 1)); i += 2
        case "--filter-type" => a = a.copy(filterType = a.filterType :+ argv(i + 1)); i += 2
        case "--filter-param" => a = a.copy(filterParam = a.filterParam :+ argv(i + 1)); i += 2
        case "--filter-code" => a = a.copy(filterCode = a.filterCode :+ argv(i + 1)); i += 2
        case "--filter-state" => a = a.copy(filterState = a.filterState :+ argv(i + 1)); i += 2
        case f @ ("--shard-count" | "--shard-idx" | "--filter-count" | "--parallel"
                 | "--older-than-days") =>
          val n = try argv(i + 1).toInt catch {
            case _: NumberFormatException => usage(s"$f requires an integer, got '${argv(i + 1)}'")
          }
          a = f match {
            case "--shard-count" => a.copy(shardCount = n)
            case "--shard-idx" => a.copy(shardIdx = n)
            case "--parallel" => a.copy(parallel = n)
            case "--older-than-days" => a.copy(olderThanDays = Some(n))
            case _ => a.copy(filterCount = Some(n))
          }
          i += 2
        case "--format" => a = a.copy(format = argv(i + 1)); i += 2
        case "--master" => a = a.copy(master = argv(i + 1)); i += 2
        case "--delete" => a = a.copy(delete = true); i += 1
        case "-j" | "--json" => a = a.copy(json = true); i += 1
        case other => usage(s"unknown argument $other")
      }
    }
    a
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"error: $msg")
    System.err.println(
      "usage: Cli <run|materialize|status|summary|print|make-group|config|gc> [--store DIR] [--cache DIR] [--graph FILE]\n" +
        "  gc [--graph FILE] [--older-than-days N] [--delete]: report (default)\n" +
        "  or remove store entries neither reachable from --graph nor younger\n" +
        "  than N days; --delete needs at least one retention criterion\n" +
        "  config [--set-runner-type T] [--set-store-uri U] [--set-cache-path P]\n" +
        "  (--store defaults to the configured store_uri: flag > GRAFT_* env > config file)\n" +
        "  [--filter-uuid S] [--filter-type T] [--filter-param P] [--filter-code C]\n" +
        "  [--filter-state new|running|completed|failed|ephemeral] [--filter-count N]\n" +
        "  [--shard-count N --shard-idx I] [--format code|jsonl|mermaid] [-j]\n" +
        "  --cache DIR: treat --store as a SHARED store reached through a local\n" +
        "  cache at DIR (read-through/write-through, reference LocalCachedRunner)")
    sys.exit(2)
  }

  /** Reference `_matches` (`cli.py:276-281`): exact equality or
    * case-insensitive substring. */
  private def matches(pattern: String, test: String): Boolean =
    pattern == test || test.toLowerCase.contains(pattern.toLowerCase)

  /** String form of a spec field value for `--filter-param`, children
    * rendered as their UUIDs (the reference filters over `model_dump()`
    * stringifications, `cli.py:314-329`). */
  private def paramStrings(op: OpSpec): Seq[String] =
    op.toJson.fields.collect {
      case (k, v) if k != "type" =>
        v match {
          case JString(s) => s
          case other => Json.render(other)
        }
    }.toSeq

  /** Graph outputs + all transitive deps, filtered (reference
    * `filter_ops`, `cli.py:290-352`). */
  private def selectOps(a: Args, runner: LocalSparkRunner): Seq[OpSpec] = {
    val roots: Seq[OpSpec] = a.graph match {
      case Some(path) => Graph.deserializeString(Files.readString(Paths.get(path)))
      case None => runner.listStore().flatMap { uuid =>
        try Some(runner.uuidToOp(uuid)) catch { case _: Exception => None }
      }
    }
    val all = scala.collection.mutable.LinkedHashMap.empty[String, OpSpec]
    roots.foreach { r =>
      if (!all.contains(r.uuid)) all(r.uuid) = r
      r.allDependencies.foreach(d => if (!all.contains(d.uuid)) all(d.uuid) = d)
    }
    val filtered = all.values.toSeq
      .filter(op => a.filterUuid.isEmpty || a.filterUuid.exists(matches(_, op.uuid)))
      .filter(op => a.filterType.isEmpty || a.filterType.exists(matches(_, op.typeName)))
      .filter(op => a.filterParam.isEmpty ||
        paramStrings(op).exists(v => a.filterParam.exists(matches(_, v))))
      .filter(op => a.filterCode.isEmpty ||
        // pickaxe over the op's OWN statement (reference passes
        // include_deps=False so a dep's code doesn't match its consumers)
        a.filterCode.exists(matches(_, op.codeStatement)))
      .filter(op => a.filterState.isEmpty ||
        a.filterState.exists(_.equalsIgnoreCase(runner.status(op).state)))
      .filter(op => a.shardCount <= 1 ||
        // manual multi-process fan-out, dependency-unaware like the
        // reference (`cli.py:541-556`): hash the uuid digest into shards
        math.floorMod(
          java.lang.Long.parseLong(op.uuidHash.take(15), 16),
          a.shardCount.toLong) == a.shardIdx.toLong)
    a.filterCount.fold(filtered)(filtered.take)
  }

  private def makeRunner(spark: SparkSession, a: Args): LocalSparkRunner =
    a.cacheResolved match {
      case Some(cacheDir) => new CachedSparkRunner(spark, a.store, cacheDir)
      case None => new LocalSparkRunner(spark, a.store)
    }

  /** (session, ownedByUs): reuse an active session when embedded (tests,
    * notebooks) — and then do NOT stop it on command exit; only a session
    * this CLI itself created is this CLI's to stop. */
  private def sparkSession(a: Args): (SparkSession, Boolean) =
    SparkSession.getActiveSession match {
      case Some(existing) => (existing, false)
      case None =>
        val s = GraftSession.builder(a.master).appName("graft-cli")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        (s, true)
    }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    a.command match {
      // the reference names the command `materialize` with alias `run`
      // (`cli.py:538`); both accepted here
      case "run" | "materialize" => cmdRun(a)
      case "status" => cmdStatus(a)
      case "summary" => cmdSummary(a)
      case "print" => cmdPrint(a)
      case "make-group" | "make_group" => cmdMakeGroup(a)
      case "config" => cmdConfig(a)
      case "gc" => cmdGc(a)
      case other => usage(s"unknown command $other")
    }
  }

  /** Get or set configuration (reference `cli.py:608-646`): no set-flags →
    * print the config file path and the resolved config; any set-flag →
    * merge into the saved file and print the new config. Precedence at use
    * time stays flags > env (`GRAFT_*`) > file > defaults. */
  private def cmdConfig(a: Args): Unit = {
    val changes = Seq(a.setRunnerType, a.setStoreUri, a.setCachePath).flatten
    if (changes.isEmpty) {
      println(s"Path to config file: ${GraphConfig.configFile}")
      val c = a.config
      println("Current config:")
      println(s"  runner_type: ${c.runnerType}")
      println(s"  store_uri: ${c.storeUri}")
      println(s"  cache_path: ${c.cachePath}")
    } else {
      val base = a.config
      val merged = GraphConfig(
        a.setRunnerType.getOrElse(base.runnerType),
        a.setStoreUri.getOrElse(base.storeUri),
        a.setCachePath.getOrElse(base.cachePath))
      val path = GraphConfig.save(merged)
      println("New config:")
      println(s"  runner_type: ${merged.runnerType}")
      println(s"  store_uri: ${merged.storeUri}")
      println(s"  cache_path: ${merged.cachePath}")
      println(s"Configuration saved in config file: $path")
    }
  }

  /** Garbage-collect the content-addressed store. An entry
    * `store/<Cls>/<hash>/` is RETAINED if its uuid is reachable from
    * `--graph` (roots + all transitive dependencies) or younger than
    * `--older-than-days`; everything else is deletable. Default is a
    * dry-run report; only `--delete` removes — and then demands at least
    * one retention criterion, so a bare `gc --delete` can never empty a
    * store. Entries without a `done` marker (in-flight writers or crash
    * debris) carry a one-day minimum age regardless of flags: the staged
    * rename window of a LIVE writer must never be collected under it
    * (`LocalSparkRunner.persistStaged` would fail its `done` write). Ages
    * come from the `done` marker's mtime (completion time) for finished
    * entries, the directory's otherwise.
    *
    * Motivation beyond disk pressure: identity-scheme bumps re-key results
    * — `graft-dirhash-v2` (round 11) re-keyed every directory-backed
    * dataset, stranding v1-keyed entries as unreachable dead weight
    * (SCALING.md) — and graph edits strand every orphaned intermediate.
    */
  private def cmdGc(a: Args): Unit = {
    val keep: Set[String] = a.graph match {
      case Some(path) =>
        val roots = Graph.deserializeString(Files.readString(Paths.get(path)))
        (roots ++ roots.flatMap(_.allDependencies)).map(_.uuid).toSet
      case None => Set.empty
    }
    if (a.delete && keep.isEmpty && a.olderThanDays.isEmpty)
      usage("gc --delete needs a retention criterion (--graph and/or --older-than-days)")
    // same store abstraction as run/materialize: `--store` alone is a
    // private store; with `--cache` it is the SHARED store of a cached
    // deployment — collect BOTH tiers under the same retention (the shared
    // tier is exactly where multi-machine v1-orphans and push debris
    // accumulate; a collected cache entry re-pulls on demand)
    val tiers: Seq[(String, String)] =
      ("store", a.store) +: a.cacheResolved.map("cache" -> _).toSeq
    val total = tiers.map { case (label, dir) =>
      val s = StoreGc.gc(Paths.get(dir), keep, a.olderThanDays, a.delete,
        line => println(s"[$label] $line"))
      println(s"gc[$label]: ${s.kept + s.collected} entries scanned, " +
        s"${s.kept} retained, ${s.collected} " +
        s"${if (a.delete) "deleted" else "deletable"}, ${s.bytes} bytes" +
        (if (a.delete) " freed" else ""))
      s
    }.reduce(_ + _)
    if (tiers.size > 1)
      println(s"gc: ${total.kept + total.collected} entries scanned, " +
        s"${total.kept} retained, ${total.collected} " +
        s"${if (a.delete) "deleted" else "deletable"}, ${total.bytes} bytes" +
        (if (a.delete) " freed" else ""))
  }

  /** Build a GroupedOp from the filtered selection, register it in the
    * store (status + embedded graph, so a later `run --filter-uuid` can
    * rehydrate it), and print its uuid (reference `make_group`,
    * `cli.py:520-535`). A single-op selection passes through un-wrapped. */
  private def cmdMakeGroup(a: Args): Unit = {
    if (a.graph.isEmpty) usage("make-group requires --graph")
    val runner = makeRunner(null, a)
    val ops = selectOps(a, runner)
    if (ops.isEmpty) { System.err.println("error: no ops matched"); sys.exit(1) }
    val op = ops match {
      case Seq(only) => only
      case many => GroupedOp(many.sortBy(_.uuid))
    }
    runner.prepare(op)
    println(op.uuid)
  }

  /** Materialize every selected op, skipping ones already done, with per-op
    * error capture (reference `cli.py:584-605`). `--parallel N` drives
    * INDEPENDENT selected ops on N threads through the runner's
    * thread-safe memo — shared dependencies still compute exactly once. */
  private def cmdRun(a: Args): Unit = {
    if (a.graph.isEmpty) usage("run requires --graph")
    val (spark, owned) = sparkSession(a)
    val runner = makeRunner(spark, a)
    val ops = selectOps(a, runner)
    val failed = new java.util.concurrent.atomic.AtomicInteger(0)
    def runOne(op: OpSpec): Unit = {
      if (runner.hasResult(op)) {
        println(s"${op.uuid}: already done, skipping")
      } else if (op.isEphemeral) {
        println(s"${op.uuid}: ephemeral, skipping")
      } else {
        try {
          runner.materialize(op) match {
            case FrameResult(df) =>
              // the store write happened inside materialize; row count is
              // the cheap post-hoc progress signal
              println(s"${op.uuid}: completed (${df.count()} rows)")
            case JsonResult(_) => println(s"${op.uuid}: completed (json)")
            case ModelResult(_) => println(s"${op.uuid}: completed (model)")
          }
        } catch {
          case e: Exception =>
            failed.incrementAndGet()
            println(s"${op.uuid}: FAILED ${e.getMessage}")
        }
      }
    }
    if (a.parallel <= 1) ops.foreach(runOne)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(a.parallel)
      try ops.map(op => pool.submit(new Runnable {
        override def run(): Unit = runOne(op)
      })).foreach(_.get())
      finally pool.shutdown()
    }
    runner.close()
    if (owned) spark.stop()
    if (failed.get() > 0) sys.exit(1)
  }

  private def cmdStatus(a: Args): Unit = {
    val runner = makeRunner(null, a)
    selectOps(a, runner).sortBy(_.uuid).foreach { op =>
      val st = runner.status(op)
      if (a.json) println(Json.render(st.toJson))
      else println(s"${op.uuid}: ${st.state}")
    }
  }

  /** State counts by op type (reference `cli.py:417-489`); ephemerals are
    * elided from the table like the reference. */
  private def cmdSummary(a: Args): Unit = {
    val runner = makeRunner(null, a)
    val ops = selectOps(a, runner)
    val byType = ops.groupBy(_.typeName)
    val rows = byType.toSeq.map { case (tpe, tops) =>
      val states = tops.map(op => runner.status(op).state)
        .filterNot(_ == OpState.Ephemeral)
        .groupBy(identity).view.mapValues(_.size).toMap
      (tpe, states)
    }.filter(_._2.nonEmpty)
      .sortBy { case (tpe, states) => (-states.values.sum, tpe) }
    if (a.json) {
      val obj = JObj(scala.collection.immutable.ListMap(rows.map { case (t, s) =>
        t -> (JObj(scala.collection.immutable.ListMap(
          s.toSeq.sortBy(_._1).map { case (k, v) => k -> (JLong(v): JValue) }: _*)): JValue)
      }: _*))
      println(Json.renderPretty(obj))
    } else {
      println(f"${"Type"}%-32s ${"Total"}%6s ${"New"}%6s ${"Run"}%6s ${"Done"}%6s ${"Fail"}%6s")
      rows.foreach { case (tpe, states) =>
        def c(s: String) = states.getOrElse(s, 0)
        println(f"$tpe%-32s ${states.values.sum}%6d ${c(OpState.New)}%6d " +
          f"${c(OpState.Running)}%6d ${c(OpState.Completed)}%6d ${c(OpState.Failed)}%6d")
      }
    }
  }

  /** Pseudocode, JSONL, or Mermaid rendering (reference `cli.py:492-517`;
    * flowchart repr `op_spec.py:620-630`). */
  private def cmdPrint(a: Args): Unit = {
    if (a.graph.isEmpty) usage("print requires --graph")
    val outputs = Graph.deserializeString(Files.readString(Paths.get(a.graph.get)))
    a.format match {
      case "code" => outputs.foreach(op => println(op.toCode()))
      case "jsonl" =>
        val runner = makeRunner(null, a)
        selectOps(a, runner).foreach(op => println(Json.render(op.toJson)))
      case "mermaid" => println(mermaid(outputs))
      case other => usage(s"unknown format $other")
    }
  }

  /** Mermaid flowchart of the graph: node per op, edge per dependency with
    * the field name as the label. */
  def mermaid(outputs: Seq[OpSpec]): String = {
    val lines = scala.collection.mutable.LinkedHashSet.empty[String]
    val seen = scala.collection.mutable.HashSet.empty[String]
    def visit(op: OpSpec): Unit = if (seen.add(op.uuid)) {
      // memoized by uuid: without it a DAG with sharing at each level is
      // traversed 2^depth times
      lines += s"""  ${op.codeIdentifier}["${op.typeName}"]"""
      op.fieldPairs.foreach { case (name, v) =>
        OpSpec.collectOps(v).foreach { child =>
          visit(child)
          lines += s"""  ${child.codeIdentifier} -->|"$name"| ${op.codeIdentifier}"""
        }
      }
    }
    outputs.foreach(visit)
    ("flowchart TD" +: lines.toSeq).mkString("\n")
  }
}
