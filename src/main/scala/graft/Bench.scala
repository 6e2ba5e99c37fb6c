package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Two-pass steady-state protocol (round 9): a single cold pass smears
    // one-time JVM costs — classloading, first-use codegen, JIT warmup —
    // onto whichever query touches each subsystem first, and WHICH query
    // pays varies run to run (the round-8 record carried ~30 s of such
    // noise: q1_agg 21.5 s official vs 1.07 s on re-run). Pass 1 runs every
    // query once, untimed-for-the-headline but recorded (cold_total); pass
    // 2 re-runs everything in the warmed JVM and is the headline. Between
    // passes the runner store drops every memoized RESULT (queries really
    // execute, never `done`-marker cache hits) but keeps the stamped ingest
    // copies — steady-state means warm JVM + post-ingest store + cold
    // results, the regime a long-lived deployment actually runs in.
    // which query is currently executing — the attribution label for the
    // runner's materialize probe (queries run strictly sequentially here)
    @volatile var currentQuery: String = null
    def runPass(order: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
        : Map[String, Double] =
      order.map { case (name, fn) =>
        currentQuery = name
        val t0 = System.nanoTime()
        // noop sink: forces full evaluation of every output column (a bare
        // count() lets Catalyst prune all projections, which under-measured
        // narrow-transform queries in round 1)
        val ok = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
        // -1 sentinel keeps failures visible in the JSON (a broken query
        // must not read as a round-over-round speedup)
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }.toMap

    // dev loop: SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the run to the
    // named queries (the full protocol otherwise — cold + 3 steady passes)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queryList = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Twin-group DERIVATION (round 21, VERDICT r20 #5): store-paired
    // queries share a content-addressed runner op (same uuid) — whichever
    // runs first in a shuffled pass computes it and the others read the
    // store, so per-QUERY medians are structurally bimodal and only the
    // group SUM is stable. The pairing is a runner property, so it is
    // RECORDED via the materialize probe instead of hand-listed (the
    // r18/r19 blemish archaeology). Recording happens during the FIRST
    // STEADY pass, not the cold pass: steady is the regime the noise
    // gate scores — there the stamped Load* ops are cheap store hits
    // (under cold they are expensive first-time stamps shared by EVERY
    // runner query, which derived one giant group and blinded the
    // per-query check), and warm costs are the bimodality magnitudes the
    // gate actually sees.
    val touchedUuids =
      scala.collection.mutable.Map.empty[String, Set[String]]
    val uuidCost = scala.collection.mutable.Map.empty[String, Double]
    val recordProbe: (String, String, Double, Boolean) => Unit =
      (_, uuid, secs, resolvedHere) => {
        val q = currentQuery
        if (q != null) touchedUuids.synchronized {
          touchedUuids(q) = touchedUuids.getOrElse(q, Set.empty) + uuid
          if (resolvedHere)
            uuidCost(uuid) = math.max(uuidCost.getOrElse(uuid, 0.0), secs)
        }
      }
    val cold = runPass(queryList)
    // Round 12: THREE steady passes, per-query MEDIAN. Min-of-two (round
    // 11) let one query into the official record at +140% when BOTH its
    // samples hit the same contention window (q_mm_graph 5.8 s official vs
    // 2.4 s clean); a median of three independent passes needs two of three
    // samples contended to misreport, and unlike min it can't understate
    // by crowning a lucky outlier.
    //
    // Round 13 protocol fixes (both misreported r12 without any plan
    // change): (a) the store reset between passes now KEEPS the stamped
    // ingest copies the cold pass wrote — stamping is a once-per-dataset
    // cost by design, and resetting it made every steady pass re-pay the
    // ingest write inside the timed region; results are still dropped, so
    // queries genuinely re-execute. (b) each steady pass runs the queries
    // in a different SEEDED-shuffled order — the fixed map order
    // co-scheduled the same neighbors every pass, so one contention-prone
    // pairing (q_cos_graph, 2 of 3 passes in r12) survived the median;
    // shuffling decorrelates the passes' contention. Per-query mins go to
    // stderr so outliers are diagnosable from the record alone.
    val steadyPasses = (1 to 3).map { pass =>
      SparkEntry.resetRunnerKeepLoads(spark)
      // twin-group recording rides the FIRST steady pass only (see the
      // derivation note above): post-reset, shared non-Load ops recompute
      // once at their true warm cost and every sharer's touch is recorded
      if (pass == 1)
        graft.runner.LocalSparkRunner.materializeProbe = recordProbe
      val out = runPass(new scala.util.Random(pass).shuffle(queryList))
      graft.runner.LocalSparkRunner.materializeProbe = null
      out
    }
    val steady = steadyPasses.head.keys.map { name =>
      // failure sentinels (-1) never enter the statistic; a query is
      // reported failed only when it failed in EVERY pass
      val valid = steadyPasses.flatMap(_.get(name)).filter(_ >= 0).sorted
      name -> (valid.length match {
        case 0 => -1.0
        case 3 => valid(1)          // median
        case _ => valid.head        // partial failures: min of the survivors
      })
    }.toMap
    // per-query minima on stderr: a median >> its own min flags a contended
    // sample without needing a judge re-run (the JSON line has no room for
    // a second 90-entry map inside the driver's 2000-char tail)
    System.err.println("[bench] per-query min over steady passes: " +
      steady.keys.toSeq.sorted.map { name =>
        val valid = steadyPasses.flatMap(_.get(name)).filter(_ >= 0)
        val mn = if (valid.isEmpty) -1.0 else valid.min
        f""""$name":$mn%.2f"""
      }.mkString("{", ",", "}"))

    // 10ms per-query precision, trailing zeros stripped: the driver keeps
    // only a 2000-char tail of this process' output, and at 82 queries the
    // one-line JSON presses against that limit (head-truncated JSON →
    // parsed:null in early rounds)
    def fmt(v: Double, dp: Int): String = {
      val r = BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_EVEN)
      r.bigDecimal.stripTrailingZeros.toPlainString
    }
    // 0.1s per query: 88 quoted names already dominate the line; finer
    // precision is what Profile is for
    def renderQs(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + fmt(v, 1) }
        .mkString("{", ",", "}")
    // exclude failure sentinels from the headline total (a broken query
    // must not SUBTRACT from it either)
    def total(m: Map[String, Double]): String =
      fmt(m.values.filter(_ >= 0).sum, 3)
    def line(qs: String, omitted: Int): String = {
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      s"""{"metric":"total","value":${total(steady)},"unit":"sec","queries":$qs$om,"cold":${total(cold)},"sf":"${sfDir.split('/').last}"}"""
    }
    // HARD budget: the driver keeps only a 2000-char tail of stdout, and a
    // head-truncated line is unparseable (parsed:null zeroes the round's
    // bench). If the full map would cross the budget — 3-4 digit values at
    // a larger sf, or more queries — drop the FASTEST queries (failures,
    // -1 sentinels, are never dropped) and say how many were omitted.
    var kept = steady
    var trimmable = true
    while (trimmable
           && line(renderQs(kept), steady.size - kept.size).length > 1900) {
      val droppable = kept.filter(_._2 >= 0)
      // sentinels are short ("q":-1) and must survive trimming — a failed
      // query's NAME is the whole point of the sentinel. When only
      // sentinels remain, stop trimming rather than emptying the map.
      if (droppable.isEmpty) trimmable = false
      else kept = kept - droppable.minBy(_._2)._1
    }
    // the trimmed names are otherwise unrecoverable from the artifact (the
    // JSON only counts them); stderr makes the record self-contained
    if (kept.size < steady.size) {
      val dropped = (steady.keySet -- kept.keySet).toSeq.sorted
      System.err.println(s"[bench] ${dropped.size} fastest queries omitted " +
        s"from the JSON map (they RAN and count in the total): " +
        dropped.mkString(" "))
    }
    // the SELF-CONTAINED record (VERDICT r13): the stdout line must fit the
    // driver's 2000-char tail, so past ~90 queries it can no longer carry
    // every per-query number — the full map (median + min over the steady
    // passes + the cold pass, per query, untrimmed) goes to a file instead.
    // Stdout stays the summary; the file is the archaeology-free artifact.
    // a FILTERED run (SPARK_GRAFT_BENCH_ONLY) or an off-protocol scale
    // factor (the record protocol is sf0.1) must not clobber the
    // committed full-sweep record — both go to scratch defaults instead
    // (a round-19 sf0.001 smoke silently overwrote the sf0.1 record)
    val sfName = sfDir.split('/').last
    // Round 20: the full-protocol run lands in BENCH_run.json ALWAYS, and
    // is PROMOTED to the committed record path (BENCH_full.json) only when
    // it passes the record-quality protocol — no query's median may exceed
    // 1.5x its own min over the 3 steady passes, and no query failed. A
    // contended box (concurrent sbt, driver co-scheduling) produces runs
    // with exactly that signature, and twice now such a run clobbered the
    // committed quiet record; gating the promotion makes that structurally
    // impossible instead of a re-commit chore.
    val runPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (sys.env.contains("SPARK_GRAFT_BENCH_ONLY")) "BENCH_partial.json"
      else if (sfName != "sf0.1") s"BENCH_smoke_$sfName.json"
      else "BENCH_run.json")
    // Store-paired twins, DERIVED from the first steady pass's materialize probe
    // (round 21 — the hand list needed archaeology every time it drifted):
    // queries sharing an op uuid whose resolve cost crossed the 0.5 s
    // absolute noise bound score as a GROUP (sum the members per pass) —
    // within a pass whichever runs FIRST computes the shared op and the
    // others read the store, so per-QUERY medians are structurally
    // bimodal (r19's q_d4_pipeline 0.29→1.52 / q_d4_graph 1.24→0.08
    // swap) and the group SUM is the stable quantity.
    val twinGroups: Seq[Seq[String]] = {
      // a query's fastest steady sample — the noise gate's `min`
      def minOf(name: String): Double = {
        val valid = steadyPasses.flatMap(_.get(name)).filter(_ >= 0)
        if (valid.isEmpty) Double.MaxValue else valid.min
      }
      // a shared op of warm cost C can only trip a member's noise gate
      // (med > 1.5×min AND med − min > 0.5) when C > 0.5 s AND
      // C > 0.5×min for that member (med ≤ min + C): group ONLY such
      // members — cheap shared ops (common selects) and members whose own
      // runtime dwarfs the shared op stay individually gated
      val byUuid = touchedUuids.toSeq
        .flatMap { case (q, us) => us.map(_ -> q) }
        .groupBy(_._1).toSeq
        .flatMap { case (uuid, pairs) =>
          val c = uuidCost.getOrElse(uuid, 0.0)
          if (c < 0.5) None
          else {
            val members = pairs.map(_._2).distinct
              .filter(q => c > 0.5 * minOf(q)).sorted
            if (members.size >= 2) Some(members) else None
          }
        }
      // merge overlapping groups (a query can share different expensive
      // ops with different partners — the group is the transitive hull)
      val merged = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
      byUuid.foreach { g =>
        val (hit, miss) = merged.partition(_.intersect(g.toSet).nonEmpty)
        merged.clear(); merged ++= miss
        merged += hit.foldLeft(g.toSet)(_ ++ _)
      }
      merged.map(_.toSeq.sorted).sortBy(_.head).toSeq
    }
    if (twinGroups.nonEmpty)
      System.err.println("[bench] derived store-paired twin groups " +
        "(shared expensive runner ops): " +
        twinGroups.map(_.mkString("+")).mkString("; "))
    val grouped = twinGroups.filter(_.forall(steady.contains))
    val inGroup = grouped.flatten.toSet
    def medMin(samples: Seq[Seq[Double]]): Option[(Double, Double)] = {
      // per-pass sums; all members must be valid in all 3 passes
      if (samples.exists(_.exists(_ < 0)) || samples.exists(_.length != 3))
        None
      else {
        val sums = (0 until 3).map(p => samples.map(_(p)).sum).sorted
        Some((sums(1), sums.head))
      }
    }
    // noise bound: median > 1.5× its own min AND more than 0.5 s above
    // it — the relative bound alone trips on sub-second scheduling
    // jitter (a 0.27 s query at 0.43 s is not a contended record)
    def isNoisy(med: Double, mn: Double): Boolean =
      mn > 0 && med > 1.5 * mn && med - mn > 0.5
    val noisySingles = steady.keys.toSeq.sorted
      .filterNot(inGroup.contains).flatMap { name =>
        val valid = steadyPasses.flatMap(_.get(name)).filter(_ >= 0)
        val mn = if (valid.isEmpty) -1.0 else valid.min
        val med = steady(name)
        if (med < 0 || (valid.length == 3 && isNoisy(med, mn)))
          Some(f"$name%s med=${med}%.2f min=${mn}%.2f")
        else None
      }
    val noisyGroups = grouped.flatMap { g =>
      medMin(g.map(n => steadyPasses.map(_.getOrElse(n, -1.0)))) match {
        case Some((med, mn)) if isNoisy(med, mn) =>
          Some(f"${g.mkString("+")}%s med=${med}%.2f min=${mn}%.2f (group)")
        case None => Some(s"${g.mkString("+")} (group had failures)")
        case _ => None
      }
    }
    val noisy = noisySingles ++ noisyGroups
    try {
      val qjson = steady.keys.toSeq.sorted.map { name =>
        val valid = steadyPasses.flatMap(_.get(name)).filter(_ >= 0)
        val mn = if (valid.isEmpty) -1.0 else valid.min
        s"""    "$name": {"median":${fmt(steady(name), 3)},"min":${fmt(mn, 3)},"cold":${fmt(cold.getOrElse(name, -1.0), 3)}}"""
      }.mkString(",\n")
      val record = s"""{\n  "metric": "total", "value": ${total(steady)}, "unit": "sec",\n  "cold": ${total(cold)}, "sf": "${sfDir.split('/').last}",\n  "n_queries": ${steady.size},\n  "queries": {\n$qjson\n  }\n}\n"""
      java.nio.file.Files.write(java.nio.file.Paths.get(runPath),
        record.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full per-query record written to $runPath")
      // ADVICE r20: promotion additionally requires the record protocol's
      // scale factor — env-forcing SPARK_GRAFT_BENCH_FULL=BENCH_run.json on
      // a non-sf0.1 smoke must not clobber the committed sf0.1 record
      if (runPath == "BENCH_run.json" && sfName == "sf0.1") {
        if (noisy.isEmpty) {
          java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_full.json"),
            record.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(
            "[bench] run is protocol-clean (every median <= 1.5x its min) " +
              "- promoted to BENCH_full.json")
        } else System.err.println(
          s"[bench] NOT promoted to BENCH_full.json - ${noisy.size} " +
            s"queries above the median<=1.5x-min noise bound: " +
            noisy.mkString("; "))
      }
    } catch { case e: Throwable => // the summary line must still go out
      System.err.println(s"[bench] could not write $runPath: ${e.getMessage}")
    }
    println(line(renderQs(kept), steady.size - kept.size))
    SparkEntry.closeRunner(spark)
    spark.stop()
  }
}
