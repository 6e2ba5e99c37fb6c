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
    * `table[offset::skip][:num_rows]` re-expressed over the row index.
    * The limit keeps the plan a pushed-down filter + local limit.
    */
  def takeRows(df: DataFrame, skip: Int = 1, offset: Int = 0,
               numRows: Option[Int] = None): DataFrame = {
    require(skip >= 1, s"skip must be >= 1, got $skip")
    val sliced = df.filter(
      (col(RowIdx) >= offset) && ((col(RowIdx) - offset) % skip === 0))
    numRows match {
      case Some(n) =>
        // keep deterministic: first n in row-index order
        sliced.orderBy(col(RowIdx)).limit(n)
      case None => sliced
    }
  }

  /** CategoryToBooleanOp (reference `dataset_ops.py:248-316`):
    * membership of a categorical column in `trueValues`.
    * With both sets given, rows outside the union are invalid (hard error in
    * the reference — here `validateCategoryUniverse` performs that check).
    * With only `falseValues`, result is the negated membership.
    */
  def categoryToBoolean(c: Column, trueValues: Set[String],
                        falseValues: Option[Set[String]] = None): Column =
    if (trueValues.nonEmpty) c.isin(trueValues.toSeq.sorted: _*)
    else falseValues match {
      case Some(fv) => !c.isin(fv.toSeq.sorted: _*)
      case None => throw new IllegalArgumentException(
        "one of trueValues/falseValues required")
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
    * `local_arrow_runner.py:538-620`): seeded *exact-count* random
    * assignment. float proportion ⇒ test = ceil(p*n) (reference:
    * `local_arrow_runner.py:567-572`), int ⇒ absolute count; the complement
    * is inferred. Deterministic for a given seed *within this engine* (RNG
    * differs from CPython's `random.sample` — documented contract,
    * SURVEY §7.4.3).
    *
    * Distributed: `rand(seed)` is deterministic per partition+offset for a
    * fixed partitioning; exact count needs a global rank — built with the
    * scale-safe two-phase index over the draw (`withRowIdxByKey`), never a
    * single-partition window. The total row count is folded into the same
    * plan as a broadcast 1-row aggregate (no eager driver-side `count()`),
    * so the whole op is one lazy DataFrame.
    */
  def assignTrainTestSplit(df: DataFrame, testFraction: Option[Double],
                           testCount: Option[Int], seed: Long): DataFrame = {
    testFraction.foreach(p =>
      require(p >= 0 && p <= 1, s"test proportion $p out of [0,1]"))
    // the draw is uniform on [0,1) by construction, so the rank's range
    // bucket is a pure expression — no sampling pass (withRowIdxByKey's
    // eager count+sample exists only for keys of UNKNOWN distribution)
    val drawn = df.withColumn("__draw", rand(seed))
    val ranked = withRowIdxByKnownRange(drawn,
      rangeBucket(drawn, col("__draw"), 1.0), col("__draw"))
    val total = ranked.agg(count(lit(1)).as("__n"))
    val nTestCol: Column = (testFraction, testCount) match {
      case (Some(p), None) => ceil(lit(p) * col("__n")).cast("long")
      case (None, Some(c)) => lit(c.toLong)
      case _               => ceil(lit(0.25) * col("__n")).cast("long") // reference default
    }
    ranked.crossJoin(broadcast(total))
      .withColumn("split",
        when(col(RowIdx) < nTestCol, "test").otherwise("train"))
      .drop("__draw", "__n", RowIdx)
  }

  /** AssignRowIDOp (declared but unimplemented in the reference,
    * `dataset_ops.py:161-166`) — here implemented as the deterministic
    * row index, exposed as a column.
    */
  def assignRowId(df: DataFrame, orderKeys: Column*): DataFrame =
    if (orderKeys.nonEmpty) withRowIdxByKey(df, orderKeys: _*).withColumnRenamed(RowIdx, "row_id")
    else withRowIdxByFileOrder(df).withColumnRenamed(RowIdx, "row_id")

  /** MaskRowsOp (reference `dataset_ops.py:233-245`) for the *fused* case:
    * mask is an expression over the same lineage ⇒ a plain filter
    * (predicate-pushdown friendly). The runner handles the cross-dataset
    * case with a `__row_idx` equi-join.
    */
  def maskRows(df: DataFrame, mask: Column): DataFrame = df.filter(mask)

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
