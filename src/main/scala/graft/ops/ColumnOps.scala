package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core column algebra of the engine — the Spark-first re-expression of the
  * reference's ephemeral column ops (krnel-graph `dataset_ops.py`).
  *
  * Design: the reference aligns columns *positionally* (same source dataset ⇒
  * same row order; see reference `local_arrow_runner.py:818-836` length
  * checks). In Spark, relations are unordered, so ops that need positional
  * identity take an explicit, deterministic row index (`rowIdx`) derived
  * either from a key ordering (preferred — survives any repartitioning at
  * 100 TB) or `zipWithIndex` at load for keyless sources. Ops that combine
  * columns from the *same* lineage are pure `Column` expressions — zero
  * joins, zero shuffles, fully codegen'd — which is the fused fast path the
  * runner uses for chains of ephemeral ops.
  */
object ColumnOps {

  val RowIdx = "__row_idx"
  /** The value column of a runner column result. */
  val ValueCol = "value"

  /** Deterministic 0-based row index from an explicit total ordering (keys
    * must be distinct as a tuple) — scale-safe two-phase construction (no
    * single-partition window), built so that every row's index is a PURE
    * FUNCTION of the row's key and plan literals:
    *
    *   1. range BOUNDS are computed EAGERLY from a seeded sample, sorted,
    *      and frozen into the plan as literals. (A DataFrame
    *      `repartitionByRange` re-samples its bounds on every evaluation of
    *      the exchange — seeded by RDD id — so two subtrees of one plan can
    *      disagree on which partition a key belongs to. The round-2..4 form
    *      built offsets from one evaluation and local ranks from another and
    *      was only correct when ReusedExchange happened to dedupe them: with
    *      the exchange duplicated, indices were not even a permutation.)
    *   2. per-bucket local rank via a window PARTITIONED by the bucket
    *      expression (parallel — ≥ numPartitions buckets, no data to one
    *      node),
    *   3. per-bucket counts → prefix-sum offsets over the tiny
    *      (numBuckets-row) aggregate, broadcast-joined back.
    *
    * global_idx = bucket_offset + local_rank. The plan stays in Catalyst
    * (pushdown/codegen survive); the eager sample is one column-pruned scan,
    * the same work the range exchange's sampling pass does — paid once at
    * op-build instead of once per evaluation.
    */
  def withRowIdxByKey(df: DataFrame, keys: Column*): DataFrame = {
    val np = shufflePartitions(df)
    val kStruct = struct(keys: _*)
    // eager, deterministic bounds: ~np*64 seeded sample of the key tuple
    val kdf = df.select(kStruct.as("__gp_k"))
    val n = kdf.count()
    val bounds: Array[Column] =
      if (n == 0) Array.empty
      else {
        val target = math.min(n, np * 64L).toDouble
        val sampled = kdf.sample(withReplacement = false,
            math.min(1.0, target * 1.2 / n), seed = 42L)
          .orderBy(col("__gp_k")).collect().map(_.getStruct(0))
        val k = sampled.length
        (1 until np).map(i => i * k / np).distinct
          .map(sampled.apply).distinct
          .map(row => struct(row.toSeq.map(lit): _*))
          .toArray
      }
    // bucket = #bounds below the key — a pure expression over frozen
    // literals (struct comparison is field-lexicographic, matching the sort)
    val bucket: Column =
      if (bounds.isEmpty) lit(0L)
      else bounds.map(b => when(kStruct >= b, 1L).otherwise(0L)).reduce(_ + _)
    rankWithinBuckets(df, bucket, keys)
  }

  /** The two-phase index with a CALLER-SUPPLIED bucket expression — for keys
    * whose range is KNOWN (a previous 0-based index in [0, n); a uniform
    * draw in [0, 1)), range bounds need no sampling at all: the bucket is a
    * pure plan expression and the eager count+sample jobs of
    * `withRowIdxByKey` disappear. `bucket` must be monotone non-decreasing
    * in the `keys` order and land in [0, numPartitions); imbalance is
    * bounded by how non-uniform the key really is (AQE absorbs the rest).
    */
  def withRowIdxByKnownRange(df: DataFrame, bucket: Column, keys: Column*): DataFrame =
    rankWithinBuckets(df, bucket, keys)

  /** Monotone bucket expression for a key uniform-ish over [0, upper). */
  def rangeBucket(df: DataFrame, key: Column, upper: Double): Column = {
    val np = shufflePartitions(df)
    if (upper <= 0) lit(0L)
    else least(floor(key.cast("double") * np / upper), lit(np - 1L)).cast("long")
  }

  /** Monotone bucket expression for a SIGNED long key uniform over the full
    * 64-bit range (a seeded hash draw): affine map to [0,1) then range
    * bucket. The double cast flattens low bits but stays monotone, which is
    * all bucketing needs — exact order is restored by the in-bucket sort.
    */
  def fullRangeBucket(df: DataFrame, key: Column): Column = {
    val np = shufflePartitions(df)
    greatest(lit(0L),
      least(floor((key.cast("double") / 1.8446744073709552e19 + 0.5) * np),
        lit(np - 1L))).cast("long")
  }

  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Shared core of the two-phase index: per-bucket local rank (window
    * PARTITIONED by the bucket — parallel, never a single-partition
    * window), per-bucket counts → prefix-sum offsets over the tiny
    * numBuckets-row aggregate (a broadcast self inequality-join, not a
    * global window), global idx = offset + local rank.
    */
  private def rankWithinBuckets(df: DataFrame, bucket: Column,
                                keys: Seq[Column]): DataFrame = {
    val pid = "__gp_pid"; val lrn = "__gp_lrn"; val off = "__gp_off"
    val parted = df.withColumn(pid, bucket)
    val local = parted.withColumn(lrn,
      row_number().over(Window.partitionBy(col(pid)).orderBy(keys: _*)).cast("long"))
    val counts = parted.groupBy(col(pid)).agg(count(lit(1)).as("__gp_cnt"))
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")), col(s"b.$pid") < col(s"a.$pid"), "left")
      .groupBy(col(s"a.$pid").as(pid))
      .agg(coalesce(sum(col("b.__gp_cnt")), lit(0L)).as(off))
    local.join(broadcast(offsets), pid)
      .withColumn(RowIdx, col(off) + col(lrn) - 1)
      .drop(pid, lrn, off)
  }

  /** Distributed EXCLUSIVE prefix-sum of `value` over the total order
    * (bucket asc, keys asc): per-bucket inclusive window cumsum (window
    * PARTITIONED by the bucket — parallel, never single-partition),
    * per-bucket totals collected to the driver (one row per bucket, so
    * bounded by the bucket count) and turned into exclusive offsets there,
    * global exclusive sum = bucket offset + inclusive local − own value.
    * The totals run as one aggregate when this is called; the offsets
    * enter the plan as a map literal. `bucket` (cast to long) must be
    * monotone non-decreasing in the intended total order (e.g.
    * [[rangeBucket]] over the key).
    */
  def withPrefixSum(df: DataFrame, out: String, value: Column,
                    bucket: Column, keys: Column*): DataFrame = {
    val pid = "__ps_pid"; val v = "__ps_v"; val inc = "__ps_inc"
    val parted = df.withColumn(pid, bucket.cast("long"))
      .withColumn(v, value.cast("long"))
    val local = parted.withColumn(inc,
      sum(col(v)).over(Window.partitionBy(col(pid)).orderBy(keys: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = parted.groupBy(col(pid))
      .agg(coalesce(sum(col(v)), lit(0L)))
      .collect().collect { case r if !r.isNullAt(0) => (r.getLong(0), r.getLong(1)) }
      .sortBy(_._1)
    val offsets = totals.map(_._1).zip(totals.scanLeft(0L)(_ + _._2)).toMap
    local.withColumn(out,
        element_at(typedLit(offsets), col(pid)) + col(inc) - col(v))
      .drop(pid, v, inc)
  }

  /** Deterministic 0-based row index in file order — for keyless sources
    * (reference: positional identity of a loaded parquet,
    * `local_arrow_runner.py:500-512`).
    *
    * Pure-DataFrame construction with ZERO shuffle of the data:
    * `monotonically_increasing_id()` is exactly
    * `(scanPartitionId << 33) | offsetWithinPartition`, so the global file
    * order index decomposes closed-form — local rank = `mid & (2³³-1)`,
    * bucket = `mid >>> 33` — and only the per-scan-partition COUNTS (a
    * numPartitions-row aggregate) shuffle, turned into prefix-sum offsets
    * and broadcast back. Compared to ranking mid through a range exchange
    * (rounds 2-4) this removes a full-data shuffle AND is deterministic by
    * construction: every row's index is a pure function of its mid, so any
    * number of independent evaluations of the plan (e.g. the two sides of a
    * positional self-join) agree exactly. Column pruning and predicate
    * pushdown still reach the parquet scan (no RDD hop).
    *
    * Valid directly above a deterministic lineage (a file scan): there,
    * partition layout and within-partition order are fixed by planning.
    */
  def withRowIdxByFileOrder(df: DataFrame): DataFrame = {
    val mid = "__gp_mid"; val pid = "__gp_pid"; val off = "__gp_off"
    val offMask = (1L << 33) - 1
    val withMid = df.withColumn(mid, monotonically_increasing_id())
    val counts = withMid
      .groupBy(shiftrightunsigned(col(mid), 33).as(pid))
      .agg(count(lit(1)).as("__gp_cnt"))
    val offsets = counts.as("a")
      .join(broadcast(counts.as("b")), col(s"b.$pid") < col(s"a.$pid"), "left")
      .groupBy(col(s"a.$pid").as(pid))
      .agg(coalesce(sum(col("b.__gp_cnt")), lit(0L)).as(off))
    withMid.withColumn(pid, shiftrightunsigned(col(mid), 33))
      .join(broadcast(offsets), pid)
      .withColumn(RowIdx, col(off) + col(mid).bitwiseAND(lit(offMask)))
      .drop(mid, pid, off)
  }

  /** TakeRowsOp (reference `dataset_ops.py:222-230`): python slice
    * `table[offset::skip][:num_rows]` over the row index, re-indexed in
    * CLOSED FORM: a kept row's new position is (old - offset) / skip, so
    * the whole slice, head-limit included, is a pure parallel filter — no
    * window, no sort, no limit operator.
    */
  def takeRows(df: DataFrame, skip: Long, offset: Long,
               numRows: Option[Long]): DataFrame = {
    require(skip >= 1, s"skip must be >= 1, got $skip")
    val kept = df.filter(col(RowIdx) >= offset &&
      (col(RowIdx) - offset) % skip === 0)
    val newIdx = ((col(RowIdx) - offset) / skip).cast("long")
    val sliced = numRows match {
      case Some(n) => kept.filter(newIdx < n)
      case None => kept
    }
    sliced.withColumn(RowIdx, newIdx)
  }

  /** CategoryToBooleanOp (reference `dataset_ops.py:248-316`):
    * membership of a categorical column in `trueValues`; with only
    * `falseValues`, the negated membership. `Some(empty)` true values mean
    * "nothing is true". With both sets given, rows outside the union are
    * invalid (hard error in the reference — `validateCategoryUniverse`
    * performs that check).
    */
  def categoryToBoolean(c: Column, trueValues: Option[Seq[String]],
                        falseValues: Option[Seq[String]]): Column =
    (trueValues, falseValues) match {
      case (Some(tv), _) => c.isin(tv: _*)
      case (None, Some(fv)) => !c.isin(fv: _*)
      case _ => throw new IllegalArgumentException("no value sets")
    }

  /** The reference's subset validation: observed values must be within
    * true ∪ false (`dataset_ops.py:281-301`). Distributed: an any()
    * aggregate, no collect of data.
    */
  def validateCategoryUniverse(df: DataFrame, c: Column,
                               universe: Set[String]): Unit = {
    val bad = df.filter(!c.isin(universe.toSeq: _*) && c.isNotNull).limit(1).count()
    if (bad > 0) throw new IllegalArgumentException(
      s"categorical column contains values outside ${universe.toSeq.sorted}")
  }

  /** BooleanLogicOp (reference `dataset_ops.py:319-346`). */
  def booleanLogic(operation: String, l: Column, r: Column): Column =
    operation match {
      case "and" => l && r
      case "or"  => l || r
      case "xor" => l =!= r
      case "not" => !l
      case other => throw new IllegalArgumentException(s"bad op $other")
    }

  /** PairwiseArithmeticOp (reference `dataset_ops.py:353-379`) with numpy
    * semantics for division: x/0 → ±Infinity, 0/0 → NaN (numpy errstate
    * ignored — reference `local_arrow_runner.py:744-747`). Spark's `/`
    * yields null on zero divisor (non-ANSI), so divide is special-cased.
    */
  def pairwiseArithmetic(operation: String, l: Column, r: Column): Column =
    operation match {
      case "add"      => l + r
      case "subtract" => l - r
      case "multiply" => l * r
      case "divide" =>
        when(r === 0.0,
          when(l > 0, lit(Double.PositiveInfinity))
            .when(l < 0, lit(Double.NegativeInfinity))
            .otherwise(lit(Double.NaN)))
          .otherwise(l.cast("double") / r.cast("double"))
      case other => throw new IllegalArgumentException(s"bad op $other")
    }

  /** VectorToScalarOp (reference `dataset_ops.py:348-351`): element
    * `colIndex` (0-based, reference convention) of each vector.
    * Spark `element_at` is 1-based.
    */
  def vectorToScalar(vec: Column, colIndex: Int): Column =
    element_at(vec, colIndex + 1)

  /** Bounds check for vectorToScalar (reference
    * `local_arrow_runner.py:688-719`): index must be < min vector length.
    */
  def validateVectorIndex(df: DataFrame, vec: Column, colIndex: Int): Unit = {
    val minLen = df.agg(min(size(vec))).head().getInt(0)
    if (colIndex < 0 || colIndex >= minLen) throw new IndexOutOfBoundsException(
      s"col_index $colIndex out of bounds for vectors of min length $minLen")
  }

  /** AssignTrainTestSplitOp (reference `dataset_ops.py:168-184`,
    * `local_arrow_runner.py:538-620`): seeded *exact-count* assignment of
    * each `__row_idx` to `value` "test" or "train". A Double size is a
    * proportion (test = ceil, train = floor), a Long or Int an absolute
    * count; the complement is inferred, default test 0.25. Deterministic
    * per seed within this engine (RNG differs from CPython's
    * `random.sample` — documented contract, SURVEY §7.4.3).
    *
    * The draw is `xxhash64(row index, seed)`: a function of the row's
    * positional identity only, so the assignment does not depend on how
    * the input is partitioned. It is uniform over the full signed-long
    * range — a known distribution, so the rank's bucket is a pure
    * expression (no count+sample jobs; exact order within buckets via the
    * (draw, idx) sort). The total row count enters the same plan as a
    * broadcast 1-row aggregate, so the whole op is one lazy DataFrame.
    */
  def assignTrainTestSplit(df: DataFrame, testSize: Option[Any],
                           trainSize: Option[Any], seed: Long): DataFrame = {
    val drawn = df.select(col(RowIdx).as("__orig_idx"))
      .withColumn("__draw", xxhash64(col("__orig_idx"), lit(seed)))
    val ranked = withRowIdxByKnownRange(drawn,
      fullRangeBucket(drawn, col("__draw")),
      col("__draw"), col("__orig_idx"))
      .withColumnRenamed(RowIdx, "__rank")
    val total = ranked.agg(count(lit(1)).as("__n"))
    def resolveCount(size: Any, isTest: Boolean): Column = size match {
      // reference semantics: test = ceil, train = floor
      case d: Double =>
        if (isTest) ceil(lit(d) * col("__n")).cast("long")
        else floor(lit(d) * col("__n")).cast("long")
      case c: Long => lit(c)
      case c: Int => lit(c.toLong)
      case other => throw new IllegalArgumentException(s"bad size $other")
    }
    val nTest: Column = (testSize, trainSize) match {
      case (Some(t), _) => resolveCount(t, isTest = true)
      case (None, Some(tr)) => col("__n") - resolveCount(tr, isTest = false)
      case _ => ceil(lit(0.25) * col("__n")).cast("long")
    }
    // materialize-time validation, in-plan (reference errors:
    // `tests/test_local_arrow_runner.py:551-568`): counts within [0, n];
    // when BOTH sizes are given they must cover the dataset exactly
    var guard: Column = when(nTest < 0 || nTest > col("__n"),
      raise_error(format_string(
        "train/test size must be between 0 and the dataset length (n=%s)", col("__n"))))
    (testSize, trainSize) match {
      case (Some(t), Some(tr)) =>
        val nTrain = resolveCount(tr, isTest = false)
        guard = coalesce(guard, when(nTest + nTrain =!= col("__n"),
          raise_error(format_string(
            "train size + test size must equal dataset size (n=%s)", col("__n")))))
      case _ =>
    }
    ranked.crossJoin(broadcast(total))
      .select(col("__orig_idx").as(RowIdx),
        coalesce(guard.cast("string"),
          when(col("__rank") < nTest, "test").otherwise("train")).as(ValueCol))
  }

  /** Drops the blocks behind `localCheckpoint`ed frames once nothing reads
    * them. `unpersist` does not reach them: a local checkpoint lives on the
    * plan's RDD leaf, not in the cache manager, and would otherwise stay
    * pinned until the frame happens to be garbage collected. The frames
    * must not be used afterwards. */
  def releaseCheckpoints(frames: Seq[DataFrame]): Unit =
    frames.foreach(_.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => ()
    })

  /** Runs independent effects as concurrent Spark jobs, so their wall is
    * the longest leg's rather than their sum, and returns their results
    * in leg order. Every leg settles before this returns or throws: a
    * failed leg never leaves a sibling writing behind the caller (e.g.
    * into a segment dir a retry or a stream replay is about to rewrite).
    * The first failure in leg order is rethrown. */
  def concurrently[A](legs: (() => A)*): Seq[A] = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    // a pool thread keeps the Spark local properties (job group,
    // description) of the thread that created it; each leg runs with the
    // caller's instead, so its jobs are tagged and cancelled with the
    // caller's
    val caller = org.apache.spark.GraftBus.callerProperties()
    // blocking{}: each leg parks its thread on a Spark job, so the global
    // pool grows past #cores instead of serializing the legs on a small
    // driver
    val running = legs.map(leg => Future(blocking(caller.run(leg()))))
    running.foreach(Await.ready(_, scala.concurrent.duration.Duration.Inf))
    running.map(_.value.get.get)
  }
}
