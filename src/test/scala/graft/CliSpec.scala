package graft

import java.nio.file.{Files, Paths}

import graft.spec._
import graft.runner.LocalSparkRunner

/** CLI surface over serialized graphs: run / status / summary / print. */
class CliSpec extends SparkTestBase {

  private def withStdout(f: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf))(f)
    buf.toString("UTF-8")
  }

  private def writeGraph(dir: String, ops: OpSpec*): String = {
    val p = Paths.get(dir, "graph.json")
    Files.writeString(p, Graph.serializeToString(ops: _*))
    p.toString
  }

  test("print --format code renders pseudocode; jsonl renders nodes") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L, 2L, 3L)))
    val rid = AssignRowIDOp(ds)
    val g = writeGraph(store, rid)
    val code = withStdout(Cli.main(Array("print", "--store", store, "--graph", g)))
    assert(code.contains("assignrowidop_"))
    assert(code.contains("loadinlinejsondatasetop_"))
    val jsonl = withStdout(Cli.main(Array("print", "--store", store, "--graph", g,
      "--format", "jsonl")))
    val lines = jsonl.trim.linesIterator.toSeq
    assert(lines.length == 2)
    lines.foreach(l => Json.parse(l)) // every line is valid JSON
  }

  test("status + summary reflect store state before and after a run") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L, 2L, 3L)))
    val rid = AssignRowIDOp(ds)
    val g = writeGraph(store, rid)

    val before = withStdout(Cli.main(Array("status", "--store", store, "--graph", g)))
    assert(before.contains(s"${rid.uuid}: new"))

    // materialize via a runner sharing the store (the CLI run path spins its
    // own SparkSession; use the library path here to keep the test hermetic)
    new LocalSparkRunner(spark, store).materialize(rid)

    val after = withStdout(Cli.main(Array("status", "--store", store, "--graph", g)))
    assert(after.contains(s"${rid.uuid}: completed"))

    val summary = withStdout(Cli.main(Array("summary", "--store", store, "--graph", g)))
    assert(summary.contains("AssignRowIDOp"))
    val sumJson = withStdout(Cli.main(Array("summary", "--store", store,
      "--graph", g, "-j")))
    val parsed = Json.parse(sumJson).asInstanceOf[JObj]
    assert(parsed("AssignRowIDOp").asInstanceOf[JObj]("completed") == JLong(1))
  }

  test("run --parallel drives independent ops concurrently to completion") {
    val store = newStoreDir()
    val a = AssignRowIDOp(LoadInlineJsonDatasetOp(Map("x" -> Seq(1L, 2L, 3L))))
    val b = AssignRowIDOp(LoadInlineJsonDatasetOp(Map("y" -> Seq(4L, 5L))))
    val c = AssignRowIDOp(LoadInlineJsonDatasetOp(Map("z" -> Seq(6L))))
    val g = writeGraph(store, a, b, c)
    val out = withStdout(Cli.main(Array("run", "--store", store,
      "--graph", g, "--parallel", "3")))
    Seq(a, b, c).foreach { op =>
      assert(out.contains(s"${op.uuid}: completed"), s"missing ${op.uuid} in:\n$out")
      assert(new LocalSparkRunner(spark, store).isDone(op))
    }
  }

  test("materialize is accepted as the run command's primary name") {
    // the reference's command is `materialize` with alias `run` (cli.py:538)
    val store = newStoreDir()
    val op = AssignRowIDOp(LoadInlineJsonDatasetOp(Map("m" -> Seq(7L, 8L))))
    val g = writeGraph(store, op)
    val out = withStdout(Cli.main(Array("materialize", "--store", store, "--graph", g)))
    assert(out.contains(s"${op.uuid}: completed"))
    assert(new LocalSparkRunner(spark, store).isDone(op))
  }

  test("status without --graph rehydrates ops from the store") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("y" -> Seq("a", "b")))
    val split = AssignTrainTestSplitOp(ds, testSize = Some(1L))
    new LocalSparkRunner(spark, store).materialize(split)
    val out = withStdout(Cli.main(Array("status", "--store", store)))
    assert(out.contains(s"${split.uuid}: completed"))
    // deps from the embedded graph are listed too
    assert(out.contains(ds.uuid))
  }

  test("status, summary and run report unreadable store entries and exit non-zero") {
    val store = newStoreDir()
    val r = new LocalSparkRunner(spark, store)
    val good = AssignRowIDOp(LoadInlineJsonDatasetOp(Map("g" -> Seq(1L, 2L))))
    val bad = AssignRowIDOp(LoadInlineJsonDatasetOp(Map("b" -> Seq(3L))))
    r.materialize(good)
    r.materialize(bad)
    Files.writeString(r.opDir(bad).resolve("status.json"), "{not json")
    def withStderr(f: => Int): (Int, String) = {
      val buf = new java.io.ByteArrayOutputStream()
      val saved = System.err
      System.setErr(new java.io.PrintStream(buf, true))
      try (f, buf.toString("UTF-8")) finally System.setErr(saved)
    }
    for (cmd <- Seq("status", "summary")) {
      var code = 0
      val (_, err) = withStderr {
        val out = withStdout { code = Cli.run(Array(cmd, "--store", store)) }
        assert(out.contains(if (cmd == "status") s"${good.uuid}: completed"
          else "AssignRowIDOp"), s"$cmd:\n$out")
        code
      }
      assert(code == 1, cmd)
      assert(err.linesIterator.exists(l =>
        l.startsWith(s"unreadable ${bad.uuid}: ") && l.contains("status.json")), s"$cmd:\n$err")
    }
    val g = writeGraph(store, good)
    val (runCode, runErr) = withStderr(Cli.run(Array("run", "--store", store, "--graph", g)))
    assert(runCode == 0 && runErr.isEmpty) // a graph names its ops; the store is not listed
  }

  test("mermaid rendering emits nodes and labeled edges") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L, 2L)))
    val rid = AssignRowIDOp(ds)
    val g = writeGraph(store, rid)
    val out = withStdout(Cli.main(Array("print", "--store", store, "--graph", g,
      "--format", "mermaid")))
    assert(out.startsWith("flowchart TD"))
    assert(out.contains("""["AssignRowIDOp"]"""))
    assert(out.contains("""-->|"dataset"|"""))
  }

  test("sharding partitions ops disjointly and exhaustively") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L)))
    val ops: Seq[OpSpec] = Seq(AssignRowIDOp(ds),
      AssignTrainTestSplitOp(ds, Some(1L)),
      TakeRowsOp(ds, numRows = Some(1L)), ds)
    val g = writeGraph(store, ops.filter(!_.isInstanceOf[LoadInlineJsonDatasetOp]): _*)
    val shards = (0 until 3).map { i =>
      withStdout(Cli.main(Array("status", "--store", store, "--graph", g,
        "--shard-count", "3", "--shard-idx", i.toString)))
        .trim.linesIterator.map(_.takeWhile(_ != ':')).toSet
    }
    // disjoint
    assert(shards.combinations(2).forall { case Seq(a, b) => (a & b).isEmpty })
    // exhaustive over the 4 graph nodes
    assert(shards.flatten.toSet.size == 4)
  }

  test("filters narrow the selection") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L)))
    val rid = AssignRowIDOp(ds)
    val g = writeGraph(store, rid)
    val only = withStdout(Cli.main(Array("status", "--store", store, "--graph", g,
      "--filter-type", "AssignRowIDOp")))
    assert(only.contains("AssignRowIDOp_"))
    assert(!only.contains("LoadInlineJsonDatasetOp_"))
  }

  test("type filter is case-insensitive substring; repeated filters OR") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L)))
    val rid = AssignRowIDOp(ds)
    val split = AssignTrainTestSplitOp(ds, Some(1L))
    val g = writeGraph(store, rid, split)
    val sub = withStdout(Cli.main(Array("status", "--store", store, "--graph", g,
      "--filter-type", "rowid")))
    assert(sub.contains("AssignRowIDOp_") && !sub.contains("AssignTrainTestSplitOp_"))
    val ored = withStdout(Cli.main(Array("status", "--store", store, "--graph", g,
      "--filter-type", "rowid", "--filter-type", "traintest")))
    assert(ored.contains("AssignRowIDOp_") && ored.contains("AssignTrainTestSplitOp_"))
  }

  test("parameter-value filter matches spec field stringifications") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L)))
    val s1 = AssignTrainTestSplitOp(ds, Some(1L), randomState = 987654321L)
    val s2 = AssignTrainTestSplitOp(ds, Some(1L), randomState = 123459876L)
    val g = writeGraph(store, s1, s2)
    val only = withStdout(Cli.main(Array("status", "--store", store, "--graph", g,
      "--filter-param", "987654321")))
    assert(only.contains(s1.uuid) && !only.contains(s2.uuid))
    // a dependency's uuid is a field value of its consumer -> param-matches
    val byDep = withStdout(Cli.main(Array("status", "--store", store, "--graph", g,
      "--filter-param", ds.uuid)))
    assert(byDep.contains(s1.uuid) && byDep.contains(s2.uuid))
  }

  test("pickaxe filter searches each op's own pseudocode only") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("needle_col" -> Seq(1L)))
    val rid = AssignRowIDOp(ds)
    val g = writeGraph(store, rid)
    val out = withStdout(Cli.main(Array("status", "--store", store, "--graph", g,
      "--filter-code", "needle_col")))
    // the column name appears in the load's statement, not the consumer's
    assert(out.contains(ds.uuid) && !out.contains(rid.uuid))
  }

  test("state filter selects by runtime state; count truncates") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L, 2L)))
    val rid = AssignRowIDOp(ds)
    val split = AssignTrainTestSplitOp(ds, Some(1L))
    val g = writeGraph(store, rid, split)
    new LocalSparkRunner(spark, store).materialize(rid)
    val done = withStdout(Cli.main(Array("status", "--store", store, "--graph", g,
      "--filter-state", "completed")))
    assert(done.contains(rid.uuid) && !done.contains(split.uuid))
    val fresh = withStdout(Cli.main(Array("status", "--store", store, "--graph", g,
      "--filter-state", "new")))
    assert(fresh.contains(split.uuid) && !fresh.contains(rid.uuid))
    val one = withStdout(Cli.main(Array("status", "--store", store, "--graph", g,
      "--filter-count", "1")))
    assert(one.trim.linesIterator.size == 1)
  }

  test("sharded run: each shard materializes its ops; the union covers the graph") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L, 2L, 3L, 4L)))
    // three NON-ephemeral ops (ephemerals are rightly skipped by `run`)
    val ops: Seq[OpSpec] = Seq(AssignRowIDOp(ds),
      AssignTrainTestSplitOp(ds, Some(1L)),
      AssignTrainTestSplitOp(ds, Some(2L)))
    val g = writeGraph(store, ops: _*)
    val outs = (0 until 2).map { i =>
      withStdout(Cli.main(Array("run", "--store", store, "--graph", g,
        "--shard-count", "2", "--shard-idx", i.toString)))
    }
    // every non-ephemeral op completed in exactly one shard's run
    val runner = new LocalSparkRunner(spark, store)
    ops.foreach(op => assert(runner.isDone(op), s"${op.uuid} not materialized"))
    val completions = outs.flatMap(_.linesIterator.filter(_.contains("completed")))
    assert(completions.size == ops.size,
      s"each op completes exactly once across shards: $completions")
  }

  test("config: file round-trip, store resolution, and env precedence") {
    val home = Files.createTempDirectory("graft-cfg-").toString
    val prev = sys.props.get("graft.config.home")
    sys.props("graft.config.home") = home
    try {
      val out0 = withStdout(Cli.main(Array("config")))
      assert(out0.contains("runner_type: LocalSparkRunner"))
      assert(out0.contains(home)) // prints the config file path

      val store = newStoreDir()
      val saved = withStdout(Cli.main(Array("config", "--set-store-uri", store)))
      assert(saved.contains(s"store_uri: $store"))
      assert(Files.exists(Paths.get(home, "graft_config.json")))

      // a command with NO --store now resolves to the configured store
      val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L)))
      val rid = AssignRowIDOp(ds)
      new LocalSparkRunner(spark, store).materialize(rid)
      val out = withStdout(Cli.main(Array("status")))
      assert(out.contains(s"${rid.uuid}: completed"))

      // env beats the file (GRAFT_STORE_URI; tests inject via sys.props)
      val store2 = newStoreDir()
      sys.props("graft.env.GRAFT_STORE_URI") = store2
      try {
        val out2 = withStdout(Cli.main(Array("config")))
        assert(out2.contains(s"store_uri: $store2"))
      } finally sys.props.remove("graft.env.GRAFT_STORE_URI")

      // ...and an explicit --store flag beats everything
      val out3 = withStdout(Cli.main(Array("status", "--store", store)))
      assert(out3.contains(s"${rid.uuid}: completed"))
    } finally {
      prev match {
        case Some(p) => sys.props("graft.config.home") = p
        case None => sys.props.remove("graft.config.home")
      }
    }
  }

  test("make-group registers a GroupedOp of the filtered ops and prints its uuid") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L, 2L)))
    val rid = AssignRowIDOp(ds)
    val split = AssignTrainTestSplitOp(ds, Some(1L))
    val g = writeGraph(store, rid, split)
    val printed = withStdout(Cli.main(Array("make-group", "--store", store,
      "--graph", g, "--filter-type", "Assign"))).trim
    assert(printed.startsWith("GroupedOp_"))
    // the group is rehydratable from the store and contains exactly the
    // filtered ops, uuid-sorted (reference make_group, cli.py:520-535)
    val runner = new LocalSparkRunner(spark, store)
    val group = runner.uuidToOp(printed).asInstanceOf[GroupedOp]
    assert(group.ops.map(_.uuid) == Seq(rid, split).map(_.uuid).sorted)
    // a single-op selection passes through un-wrapped
    val single = withStdout(Cli.main(Array("make-group", "--store", store,
      "--graph", g, "--filter-type", "AssignRowIDOp"))).trim
    assert(single == rid.uuid)
    // and the registered group materializes end-to-end
    runner.materialize(group)
    assert(runner.status(group).state == "completed")
  }

  test("gc: reachable entries survive, orphans report then delete") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L, 2L, 3L)))
    val rid = AssignRowIDOp(ds)
    val runner = new LocalSparkRunner(spark, store)
    runner.materialize(rid)

    // full graph: everything reachable, nothing deletable
    val gFull = writeGraph(store, rid)
    val clean = withStdout(Cli.main(Array("gc", "--store", store, "--graph", gFull)))
    assert(clean.contains(", 0 deletable"), clean)

    // graph holding only the load: rid's entry becomes an orphan;
    // dry-run (no --delete) lists it but leaves the store untouched
    val p2 = Paths.get(store, "dsonly.json")
    Files.writeString(p2, Graph.serializeToString(ds))
    val dry = withStdout(Cli.main(Array("gc", "--store", store, "--graph", p2.toString)))
    assert(dry.contains(s"${rid.uuid}: deletable"), dry)
    assert(runner.isDone(rid)) // dry-run left the on-disk entry alone

    val del = withStdout(Cli.main(Array("gc", "--store", store,
      "--graph", p2.toString, "--delete")))
    assert(del.contains(s"${rid.uuid}: deleted"), del)
    assert(!runner.isDone(rid)) // the done marker (and entry) are gone
    // stray regular files at store root (the graph JSONs) were never
    // touched, and the store is now empty of entries
    assert(Files.exists(p2))
    val after = withStdout(Cli.main(Array("gc", "--store", store, "--graph", gFull)))
    assert(after.contains("0 entries scanned"), after)
  }

  test("gc collects both tiers of a cached (shared-store) deployment") {
    val shared = newStoreDir()
    val cache = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map("x" -> Seq(1L, 2L, 3L)))
    val rid = AssignRowIDOp(ds)
    new graft.runner.CachedSparkRunner(spark, shared, cache).materialize(rid)
    def tierHas(root: String): Boolean = {
      val i = rid.uuid.indexOf('_')
      Files.exists(Paths.get(root, rid.uuid.substring(0, i),
        rid.uuid.substring(i + 1), "done"))
    }
    assert(tierHas(shared) && tierHas(cache)) // write-through landed in both

    // dropping rid from the graph orphans its entry in BOTH tiers; the
    // same `--store`/`--cache` vocabulary as run/materialize drives gc
    val dsOnly = Paths.get(shared, "dsonly.json")
    Files.writeString(dsOnly, Graph.serializeToString(ds))
    val out = withStdout(Cli.main(Array("gc", "--store", shared,
      "--cache", cache, "--graph", dsOnly.toString, "--delete")))
    assert(out.contains(s"[store] ${rid.uuid}: deleted"), out)
    assert(out.contains(s"[cache] ${rid.uuid}: deleted"), out)
    assert(!tierHas(shared) && !tierHas(cache))
    // combined summary covers both tiers
    assert(out.linesIterator.exists(l => l.startsWith("gc: ")
      && l.contains("2 deleted")), out)
  }

  test("gc: done-less entries carry a one-day minimum age guard") {
    val store = newStoreDir()
    // crash debris: an entry directory with a payload but no done marker
    val debris = Paths.get(store, "fakeop", "deadbeef")
    Files.createDirectories(debris)
    Files.writeString(debris.resolve("result.json"), "{}")

    // fresh: must be RETAINED even by an age-0 sweep (a live writer's
    // staging window looks exactly like this)
    val fresh = withStdout(Cli.main(Array("gc", "--store", store,
      "--older-than-days", "0", "--delete")))
    assert(fresh.contains("0 deleted"), fresh)
    assert(Files.exists(debris))

    // two days old: collectable, and the emptied class dir is pruned
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 86400000L)
    Files.setLastModifiedTime(debris, old)
    val swept = withStdout(Cli.main(Array("gc", "--store", store,
      "--older-than-days", "0", "--delete")))
    assert(swept.contains("fakeop_deadbeef: deleted (incomplete)"), swept)
    assert(!Files.exists(debris) && !Files.exists(debris.getParent))
  }
}
