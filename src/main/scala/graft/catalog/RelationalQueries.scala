package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.ColumnOps
import graft.ext.Joins
import graft.spec._
import graft.SparkEntry.{normalizeEventsTs, runnerFor}
import graft.catalog.Shared._

/** Headline relational queries plus the reference's scan, projection,
  * filter and scalar-transform operators (SURVEY §2.1–§2.4). */
object RelationalQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(t(s, dir, "events"))

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** JSONL / CSV fixtures derived from `documents.parquet`, written once
    * per (JVM, sf dir): the q_load_jsonl / q_load_csv round-trips load them
    * back through the runner's content-addressed source ops. */
  private def formatFixtureFor(s: SparkSession, dir: String,
                               fmt: String): String =
    fixture(s"$fmt-docs", dir) { _ =>
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-$fmt-fixture-").toString + "/docs"
      val base = t(s, dir, "documents")
      fmt match {
        case "jsonl" =>
          base.select(col("doc_id"), col("lang"), col("text"))
            .coalesce(1).write.mode("overwrite").json(path)
        case "csv" =>
          // no free-text column: CSV's quoted-newline escape needs the
          // non-splittable multiLine read — wrong trade for a fixture
          base.select(col("doc_id"), col("lang"))
            .coalesce(1).write.mode("overwrite")
            .option("header", "true").csv(path)
      }
      path
    }

  val queries: Seq[Query] = Seq(

    // ---- headline relational (bench + capability demonstration) ----

    Query("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Query("q_join_agg", (s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(dec(col("o_totalprice"))).cast("double").as("total_revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    },
      """SELECT n_name,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    Query("q_window_topk", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin),

    Query("q_events_daily", (s, dir) => {
      events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("total_value"))
        .orderBy(col("day"), col("event_type"))
    },
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin),

    Query("q_sessionize", (s, dir) => {
      // gap-based sessionization (30 min), the batch shape of streaming
      // session windows: two stacked windows over (user_id, ts) — one
      // shuffle on user_id.
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          // microsecond-precision gap compare — unix_timestamp truncates to
          // whole seconds, which disagreed with the oracle's fractional
          // epoch() on boundary gaps (round-1 hash mismatch)
          when(col("prev_ts").isNull ||
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id",
          sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      ev.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec(col("value"))).cast("double").as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    },
      """WITH flagged AS (
        |  SELECT user_id, value,
        |    CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess,
        |    ts, event_id
        |  FROM (SELECT user_id, ts, event_id, value,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events)),
        |sessions AS (
        |  SELECT user_id, value,
        |    -- BIGINT cast: DuckDB's windowed SUM yields HUGEINT, which lands
        |    -- in pandas as float64 and hash-mismatches Spark's int64
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),

    // ---- scans / sources (SURVEY §2.1) ----

    Query("q_load_parquet", (s, dir) => {
      t(s, dir, "region").select(col("r_regionkey"), col("r_name"))
        .orderBy(col("r_regionkey"))
    },
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),

    Query("q_load_inline_json", (s, dir) => {
      // LoadInlineJsonDatasetOp THROUGH THE RUNNER: the dataset rides in
      // the spec itself (ephemeral — no store write). Materialized by the
      // engine rather than restated inline, so a broken inline decode path
      // hash-fails against the oracle's constants.
      val r = runnerFor(s)
      val ds = LoadInlineJsonDatasetOp(Map(
        "id" -> Seq(1L, 2L, 3L),
        "name" -> Seq("alpha", "beta", "gamma"),
        "flag" -> Seq(true, false, true)))
      r.toFrame(ds).select(col("id"), col("name"), col("flag"))
        .orderBy(col("id"))
    },
      """SELECT * FROM (VALUES
        |(CAST(1 AS BIGINT), 'alpha', true),
        |(CAST(2 AS BIGINT), 'beta', false),
        |(CAST(3 AS BIGINT), 'gamma', true)) AS t(id, name, flag)
        |ORDER BY id""".stripMargin),

    Query("q_load_jsonl", (s, dir) => {
      // LoadLocalJsonlDatasetOp: documents round-tripped through
      // newline-delimited JSON (the LLM-corpus interchange format) and
      // loaded back content-addressed through the runner; the oracle reads
      // the same rows from the parquet base table, so any encode/decode
      // mangling (escaping, unicode, schema drift) hash-fails.
      val r = runnerFor(s)
      val ds = r.fromJsonl(formatFixtureFor(s, dir, "jsonl"))
      r.toFrame(ds)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
        .orderBy(col("doc_id"))
    },
      "SELECT doc_id, lang, text FROM documents ORDER BY doc_id"),

    Query("q_load_csv", (s, dir) => {
      // LoadLocalCsvDatasetOp: headered CSV round-trip, inferred types
      // normalized by explicit cast (CSV inference may narrow to int)
      val r = runnerFor(s)
      val ds = r.fromCsv(formatFixtureFor(s, dir, "csv"))
      r.toFrame(ds)
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      "SELECT doc_id, lang FROM documents ORDER BY doc_id"),

    // ---- projection / typed selects (SURVEY §2.2) ----

    Query("q_select_text", (s, dir) => {
      t(s, dir, "customer").select(col("c_custkey"), col("c_name").as("text_val"))
        .orderBy(col("c_custkey"))
    },
      "SELECT c_custkey, c_name AS text_val FROM customer ORDER BY c_custkey"),

    Query("q_select_score", (s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice").as("score_val"))
        .orderBy(col("o_orderkey"))
    },
      "SELECT o_orderkey, o_totalprice AS score_val FROM orders ORDER BY o_orderkey"),

    Query("q_select_categorical", (s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus").as("category_val"))
        .orderBy(col("o_orderkey"))
    },
      "SELECT o_orderkey, o_orderstatus AS category_val FROM orders ORDER BY o_orderkey"),

    Query("q_select_vector", (s, dir) => {
      // flattened (vec_id, pos, val) form: scalar columns hash-compare in
      // the driver's pandas harness (round-1 list columns were unhashable)
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").cast("double").as("val"))
        .orderBy(col("vec_id"), col("pos"))
    },
      """SELECT vec_id, pos, CAST(embedding[pos + 1] AS DOUBLE) AS val
        |FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS pos
        |      FROM embeddings)
        |ORDER BY vec_id, pos""".stripMargin),

    Query("q_select_json", (s, dir) => {
      events(s, dir).select(col("event_id"), col("props").as("json_val"))
        .orderBy(col("event_id"))
    },
      "SELECT event_id, props AS json_val FROM events ORDER BY event_id"),

    Query("q_select_boolean", (s, dir) => {
      import s.implicits._
      Seq((1, true), (2, false), (3, true), (4, false))
        .toDF("id", "flag").orderBy(col("id"))
    },
      """SELECT * FROM (VALUES (1, true), (2, false), (3, true), (4, false))
        |AS t(id, flag) ORDER BY id""".stripMargin),

    Query("q_select_split", (s, dir) => {
      // SelectTrainTestSplitColumnOp parity: a split-typed column
      // (values ∈ {train,test}) selected off a dataset
      t(s, dir, "customer")
        .select(col("c_custkey"),
          when(pmod(col("c_custkey"), lit(4)) === 0, "test").otherwise("train")
            .as("split_val"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, CASE WHEN c_custkey % 4 = 0 THEN 'test' ELSE 'train' END AS split_val
        |FROM customer ORDER BY c_custkey""".stripMargin),

    Query("q_asof_join", (s, dir) => {
      // as-of join: each click attributed to the user's latest purchase at
      // or before it (union + per-key running last — one shuffle, no pair
      // explosion; see Joins.asofJoin)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
          Seq("purchase_id", "purchase_value"))
        .select(col("event_id"), col("user_id"),
          col("purchase_id"), col("purchase_value"))
        .orderBy(col("event_id"))
    },
      """WITH c AS (SELECT event_id, user_id, make_timestamp(epoch_us(ts)) AS ts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
        |             event_id AS purchase_id, value AS purchase_value
        |      FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, p.purchase_id, p.purchase_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin),

    Query("q_range_join", (s, dir) => {
      // range join via time binning: clicks inside each purchase's 1-hour
      // attribution window, counted per purchase (equi-join on (user, bin),
      // never an inequality cross product; see Joins.rangeJoinBinned)
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("click_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + 3600000000L).as("end_us"))
      Joins.rangeJoinBinned(clicks, "click_us", purchases,
          "start_us", "end_us", Seq("user_id"), binWidth = 3600000000L)
        .groupBy(col("purchase_id")).agg(count(lit(1)).as("n_clicks"))
        .orderBy(col("purchase_id"))
    },
      """WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS us
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, COUNT(*) AS n_clicks
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.us >= p.us AND c.us < p.us + 3600000000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Query("q_select_conversation", (s, dir) => {
      // conversation column (array<struct<role,content>>), flattened to
      // (id, pos, role, content) for the scalar-only oracle compare
      import s.implicits._
      Seq(
        (1L, Seq(("user", "Hello"), ("assistant", "Hi there!"))),
        (2L, Seq(("user", "How are you?"), ("assistant", "Great."))))
        .toDF("id", "conv")
        .select(col("id"), posexplode(col("conv")))
        .select(col("id"), col("pos").cast("long").as("pos"),
          col("col._1").as("role"), col("col._2").as("content"))
        .orderBy(col("id"), col("pos"))
    },
      """SELECT * FROM (VALUES
        |(CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'user', 'Hello'),
        |(CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'assistant', 'Hi there!'),
        |(CAST(2 AS BIGINT), CAST(0 AS BIGINT), 'user', 'How are you?'),
        |(CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'assistant', 'Great.'))
        |AS t(id, pos, role, content) ORDER BY id, pos""".stripMargin),

    // ---- filters / row selection (SURVEY §2.3) ----

    Query("q_take_rows", (s, dir) => {
      // TakeRowsOp: table[10::7][:50] over the canonical row order
      val base = ColumnOps.withRowIdxByKey(
        t(s, dir, "lineitem"), col("l_orderkey"), col("l_linenumber"))
      ColumnOps.takeRows(base, skip = 7, offset = 10, numRows = Some(50))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col(ColumnOps.RowIdx).as("row_idx"))
    },
      """WITH t AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS BIGINT) - 1 AS row_idx
        |FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_quantity, row_idx FROM t
        |WHERE row_idx >= 10 AND (row_idx - 10) % 7 = 0
        |ORDER BY row_idx LIMIT 50""".stripMargin),

    Query("q_mask_rows", (s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnOps.maskRows(li, ColumnOps.categoryToBoolean(col("l_returnflag"), Set("R")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber""".stripMargin),

    Query("q_category_to_boolean", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          ColumnOps.categoryToBoolean(col("o_orderstatus"), Set("O", "F")).as("is_of"),
          ColumnOps.categoryToBoolean(col("o_orderstatus"), Set.empty,
            Some(Set("P"))).as("not_p"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey, o_orderstatus IN ('F', 'O') AS is_of,
        |o_orderstatus NOT IN ('P') AS not_p
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Query("q_boolean_logic", (s, dir) => {
      val a = col("o_orderstatus") === "O"
      val b = col("o_totalprice") > 150000.0
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          ColumnOps.booleanLogic("and", a, b).as("and_val"),
          ColumnOps.booleanLogic("or", a, b).as("or_val"),
          ColumnOps.booleanLogic("xor", a, b).as("xor_val"),
          ColumnOps.booleanLogic("not", a, b).as("not_val"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey,
        |(o_orderstatus = 'O') AND (o_totalprice > 150000.0) AS and_val,
        |(o_orderstatus = 'O') OR (o_totalprice > 150000.0) AS or_val,
        |(o_orderstatus = 'O') <> (o_totalprice > 150000.0) AS xor_val,
        |NOT (o_orderstatus = 'O') AS not_val
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // ---- scalar transforms (SURVEY §2.4) ----

    Query("q_pairwise_arith", (s, dir) => {
      val l = col("l_quantity"); val r = col("l_discount")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          ColumnOps.pairwiseArithmetic("add", l, r).as("add_val"),
          ColumnOps.pairwiseArithmetic("subtract", l, r).as("sub_val"),
          ColumnOps.pairwiseArithmetic("multiply", l, r).as("mul_val"),
          ColumnOps.pairwiseArithmetic("divide", l, col("l_extendedprice")).as("div_val"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber,
        |l_quantity + l_discount AS add_val,
        |l_quantity - l_discount AS sub_val,
        |l_quantity * l_discount AS mul_val,
        |l_quantity / l_extendedprice AS div_val
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    Query("q_vector_to_scalar", (s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          ColumnOps.vectorToScalar(col("embedding"), 0).cast("double").as("elem0"),
          ColumnOps.vectorToScalar(col("embedding"), 63).cast("double").as("elem63"))
        .orderBy(col("vec_id"))
    },
      """SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS elem0,
        |CAST(embedding[64] AS DOUBLE) AS elem63
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    Query("q_parse_json", (s, dir) => {
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin),

    Query("q_templatize", (s, dir) => {
      // JinjaTemplatizeOp over two context columns; this simple var-only
      // template lowers to concat (stays in codegen); the full Jinja path
      // (conditionals/loops/filters) is exercised in TemplateSpec tests.
      val tmpl = "Hello {{name}}, segment {{segment}}!"
      val render = udf { (name: String, segment: String) =>
        graft.ops.Template.render(tmpl,
          Map("name" -> name, "segment" -> segment))
      }
      t(s, dir, "customer")
        .select(col("c_custkey"),
          render(col("c_name"), col("c_mktsegment")).as("prompt"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey,
        |'Hello ' || c_name || ', segment ' || c_mktsegment || '!' AS prompt
        |FROM customer ORDER BY c_custkey""".stripMargin),

    Query("q_assign_rowid", (s, dir) => {
      ColumnOps.assignRowId(t(s, dir, "orders"), col("o_orderkey"))
        .select(col("o_orderkey"), col("row_id"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey,
        |CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) - 1 AS row_id
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Query("q_train_test_split", (s, dir) => {
      // exact-count contract: ceil(0.25*n) test rows, rest train
      ColumnOps.assignTrainTestSplit(t(s, dir, "customer"),
          Some(0.25), None, seed = 19190115L)
        .groupBy(col("split")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("split"))
    },
      """SELECT 'test' AS split, CAST(ceil(0.25 * COUNT(*)) AS BIGINT) AS cnt FROM customer
        |UNION ALL
        |SELECT 'train' AS split, COUNT(*) - CAST(ceil(0.25 * COUNT(*)) AS BIGINT) AS cnt FROM customer
        |ORDER BY split""".stripMargin)
  )
}
