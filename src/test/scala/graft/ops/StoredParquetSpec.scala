package graft.ops

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.ext.{Bm25, Dedup, Similarity}
import graft.runner.LocalSparkRunner
import graft.spec._
import org.apache.spark.sql.DataFrame

/** [[StoredParquet]]: a dir this engine wrote opens with the schema from
  * its own footer, with no Spark job, and reads exactly what schema
  * inference (`spark.read.parquet`, the only reader before) reads; files
  * without Spark's footer key fall back to inference. */
class StoredParquetSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  private def jobsOf(f: => Unit): Long = {
    val meter = graft.Meter(spark)
    try { val before = meter.read(); f; (meter.read() - before).jobs }
    finally spark.sparkContext.removeSparkListener(meter)
  }

  import StoredParquetSpec.{datasetDirs, differenceFromInferred, rowsOf}

  private def assertSameAsInferred(paths: String*): Unit =
    differenceFromInferred(spark, paths: _*).foreach(d => fail(d))

  test("opens an engine-written dir with no Spark job; schema and rows equal inference") {
    val dir = tmp("graft-stored-").resolve("t").toString
    Seq((1L, "a", Seq(1.0f, 2.0f), Map("k" -> 1)), (2L, null, Nil, Map.empty[String, Int]))
      .toDF("id", "s", "v", "m")
      .withColumn("st", org.apache.spark.sql.functions.struct($"id", $"s"))
      .repartition(2).write.parquet(dir)
    assert(jobsOf { StoredParquet.read(spark, dir); () } == 0)
    assertSameAsInferred(dir)
    assert(jobsOf { spark.read.parquet(dir); () } == 1,
      "schema inference no longer runs a job; the reader's premise changed")
  }

  test("partition columns still resolve, with the types inference gives them") {
    val dir = tmp("graft-stored-part-").resolve("t").toString
    Seq((1L, 0, "x"), (2L, 1, "y"), (3L, 1, "z")).toDF("id", "shard", "tag")
      .write.partitionBy("shard", "tag").parquet(dir)
    assertSameAsInferred(dir)
    val df = StoredParquet.read(spark, dir)
    assert(df.schema("shard").dataType == org.apache.spark.sql.types.IntegerType)
    assert(df.columns.toSeq == Seq("id", "shard", "tag"))
    // a leaf partition dir read alone has no partition column
    assertSameAsInferred(s"$dir/shard=1/tag=y", s"$dir/shard=1/tag=z")
  }

  test("part files without Spark's row metadata fall back to inference") {
    val dir = tmp("graft-stored-foreign-")
    StoredParquetSpec.writeForeign(spark, dir.resolve("part-00000-x.parquet"),
      Seq(1L -> "a", 2L -> "b"))
    assert(StoredParquetSpec.footerSchema(spark, dir.toString).isEmpty)
    val df = StoredParquet.read(spark, dir.toString)
    assert(df.schema == spark.read.parquet(dir.toString).schema)
    assert(rowsOf(df) == Seq("1|a", "2|b"))
    // a dir with no part file at all reports what inference reports
    val empty = tmp("graft-stored-empty-").toString
    val e1 = intercept[org.apache.spark.sql.AnalysisException](
      spark.read.parquet(empty))
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      StoredParquet.read(spark, empty))
    assert(e1.getCondition == e2.getCondition)
  }

  /** Spark jobs of a global aggregate over `op`'s stored result, served by
    * a fresh runner over `store` (a store hit). */
  private def storeHitAggregateJobs(store: String, op: OpSpec): Long = {
    val r = new LocalSparkRunner(spark, store)
    jobsOf { r.toFrame(op).agg(org.apache.spark.sql.functions.count("*")).collect(); () }
  }

  private def storedFrame(partitions: Int): (String, OpSpec) = {
    val store = newStoreDir()
    val op = AssignRowIDOp(LoadInlineJsonDatasetOp(Map("x" -> (0 until 40).map(_.toLong))))
    new LocalSparkRunner(spark, store).writeFrame(op,
      (0 until 40).map(i => (i.toLong, s"row $i")).toDF("id", "name")
        .repartition(partitions))
    val parts = Files.list(new LocalSparkRunner(spark, store).opDir(op)
        .resolve("result.parquet")).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))
    assert(parts == partitions)
    (store, op)
  }

  test("a store hit's aggregate over a one-file result plans no exchange: 1 job") {
    val (store, op) = storedFrame(1)
    assert(storeHitAggregateJobs(store, op) == 1)
  }

  test("a store hit's aggregate over a two-file result keeps its exchange: 2 jobs") {
    val (store, op) = storedFrame(2)
    assert(storeHitAggregateJobs(store, op) == 2)
  }

  test("a one-file result larger than spark.sql.files.openCostInBytes keeps its exchange") {
    val (store, op) = storedFrame(1)
    val key = "spark.sql.files.openCostInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "16")
    try assert(storeHitAggregateJobs(store, op) == 2)
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a stamped one-file source dataset keeps its exchange: 2 jobs") {
    val src = tmp("graft-stored-source-").resolve("t").toString
    (0 until 40).map(i => (i.toLong, s"row $i")).toDF("id", "name")
      .coalesce(1).write.parquet(src)
    val store = newStoreDir()
    val load = new LocalSparkRunner(spark, store).fromParquet(src)
    new LocalSparkRunner(spark, store).toFrame(load).collect() // stamps it
    val parts = Files.list(new LocalSparkRunner(spark, store).opDir(load)
        .resolve("result.parquet")).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))
    assert(parts == 1)
    assert(storeHitAggregateJobs(store, load) == 2)
  }

  private def assertStoreOpensAsInferred(root: Path, atLeast: Int): Unit = {
    val dirs = datasetDirs(root.toString)
    assert(dirs.size >= atLeast, s"only ${dirs.size} dataset dirs under $root")
    dirs.foreach(d => assertSameAsInferred(d))
  }

  test("a runner result written without _schema.json (the earlier layout) opens the same") {
    val store = newStoreDir()
    val ds = LoadInlineJsonDatasetOp(Map(
      "v" -> (0 until 12).map(_.toDouble), "f" -> (0 until 12).map(_ % 3 == 0)))
    val op = AssignRowIDOp(MaskRowsOp(ds, SelectBooleanColumnOp(ds, "f")))
    new LocalSparkRunner(spark, store).materialize(op)
    val dir = new LocalSparkRunner(spark, store).opDir(op).resolve("result.parquet")
    val withFile = new LocalSparkRunner(spark, store).toFrame(op)
    val (schema, rows) = (withFile.schema, rowsOf(withFile))
    Files.delete(dir.resolve(StoredParquet.SchemaFile))
    val earlier = new LocalSparkRunner(spark, store).toFrame(op)
    assert(earlier.schema == schema)
    assert(rowsOf(earlier) == rows)
    assertSameAsInferred(dir.toString)
  }

  test("every gate *_stream sink table reads as inferred") {
    // query -> the tag of the temp sink dir (graft-<tag>-out-*) it writes
    val sinks = Seq("q_pack_stream" -> "packstream", "q_lm_stream" -> "lmstream",
      "q_incr_stream" -> "incrstream", "q_sem_stream" -> "semstream",
      "q_bm25_stream" -> "bm25stream", "q_domain_cap_stream" -> "dcs",
      "q_bloom_stream" -> "blstream", "q_cms_stream" -> "cmsstream",
      "q_stats_stream" -> "statsstream", "q_tb_stream" -> "tbstream",
      "q_km_stream" -> "kmstream")
    val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def sinkDirs(tag: String): Set[Path] = {
      val s = Files.list(tmpRoot)
      try s.iterator().asScala.filter(_.getFileName.toString
        .startsWith(s"graft-$tag-out-")).toSet finally s.close()
    }
    sinks.foreach { case (q, tag) =>
      val before = sinkDirs(tag)
      graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").collect()
      val made = (sinkDirs(tag) -- before).toSeq
      assert(made.size == 1, s"$q wrote sink dirs $made")
      assertStoreOpensAsInferred(made.head, 2)
    }
  }

  test("every dataset dir of a runner store and of the four index stores reads as inferred") {
    // the writers are unchanged, so these stores have the on-disk shape
    // the previous reader (plain inference) served
    val store = tmp("graft-stored-runner-")
    val r = new LocalSparkRunner(spark, store.toString)
    val src = tmp("graft-stored-src-").resolve("t").toString
    (0 until 20).map(i => (i.toLong, s"doc $i", i % 3 == 0)).toDF("id", "text", "flag")
      .repartition(2).write.parquet(src)
    val load = r.fromParquet(src)
    val rid = AssignRowIDOp(MaskRowsOp(load,
      SelectBooleanColumnOp(load, "flag")))
    r.toFrame(rid).collect()
    assertStoreOpensAsInferred(store, 2)

    val docs = (0 until 12).map(i => (i.toLong, s"alpha w$i beta")).toDF("doc_id", "text")
    val bm = tmp("graft-stored-bm25-").toString
    Bm25.buildIndex(docs, "doc_id", "text", bm)
    Bm25.appendToIndex(Bm25.openIndex(spark, bm),
      (20 until 24).map(i => (i.toLong, s"gamma w$i")).toDF("doc_id", "text"),
      "doc_id", "text")
    assertStoreOpensAsInferred(java.nio.file.Paths.get(bm), 3)

    val mh = tmp("graft-stored-mh-").toString
    Dedup.buildMinhashIndex(spark, mh, docs, "text", "doc_id")
    assertStoreOpensAsInferred(java.nio.file.Paths.get(mh), 2)

    def basis(j: Int): Array[Float] =
      Array.tabulate(8)(i => if (i == j) 1.0f else 0.0f)
    val corpus = (0 until 8).map(i => (i.toLong, basis(i % 4)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.centroidsByIds(corpus, "vec_id", "embedding", 0L until 4L)
    val ivf = tmp("graft-stored-ivf-").toString
    Similarity.buildIvfIndex(corpus, "vec_id", "embedding", cents, ivf)
    assertStoreOpensAsInferred(java.nio.file.Paths.get(ivf), 3)
    val pq = tmp("graft-stored-pq-").toString
    Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding", cents,
      Similarity.pqCodebooksByIds(corpus, "vec_id", "embedding", m = 4,
        0L until 8L), pq)
    assertStoreOpensAsInferred(java.nio.file.Paths.get(pq), 4)
  }
}

object StoredParquetSpec {
  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(r => r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case x => x
    }.mkString("|")).sorted

  /** The schema Spark recorded under [[StoredParquet.RowMetadataKey]] in
    * the footer of the first part file under `dir`, read here with
    * parquet-mr itself; None without a part file or without the key. */
  def footerSchema(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    val part = try walk.iterator().asScala.find { f =>
      val n = f.getFileName.toString
      n.startsWith("part-") && n.endsWith(".parquet")
    } finally walk.close()
    part.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(StoredParquet.RowMetadataKey) finally reader.close()
      Option(json).map(org.apache.spark.sql.types.DataType.fromJson).collect {
        case st: org.apache.spark.sql.types.StructType => st
      }
    }
  }

  /** Every parquet dataset dir under `root`: a dir holding part files, or
    * the root of `name=value` partition dirs. */
  def datasetDirs(root: String): Seq[String] =
    Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(Files.isDirectory(_)).filter { d =>
        val kids = Files.list(d).iterator().asScala.toSeq
          .map(_.getFileName.toString)
        kids.exists(n => n.startsWith("part-") && n.endsWith(".parquet")) ||
          kids.exists(n => n.contains("=") && !n.startsWith("_"))
      }.map(_.toString).toSeq

  /** Every runner result under store `root` whose first part file's
    * footer carries Spark's schema, and whose [[StoredParquet.SchemaFile]]
    * is missing or records another schema. Results without that footer key
    * (written by another tool, or damaged on purpose) are not judged. */
  def schemaFileMismatches(spark: org.apache.spark.sql.SparkSession,
                           root: String): Seq[String] =
    Files.walk(java.nio.file.Paths.get(root)).iterator().asScala.toList
      .filter(d => Files.isDirectory(d) && d.getFileName.toString == "result.parquet")
      .flatMap { d =>
        val footer = footerSchema(spark, d.toString)
        val file = d.resolve(StoredParquet.SchemaFile)
        footer.flatMap { f =>
          if (!Files.exists(file)) Some(s"$d has no ${StoredParquet.SchemaFile}")
          else {
            val recorded = graft.spec.Json.parse(Files.readString(file)) match {
              case graft.spec.JObj(fs) => fs.get("schema").collect {
                case graft.spec.JString(j) => org.apache.spark.sql.types.DataType.fromJson(j)
              }
              case _ => None
            }
            if (recorded.contains(f)) None
            else Some(s"$d records $recorded, its footer $f")
          }
        }
      }

  /** How [[StoredParquet.read]] of `paths` differs from schema inference
    * (`spark.read.parquet`): no footer schema found, or a different schema
    * (names, types, nullability, field metadata) or different rows. */
  def differenceFromInferred(spark: org.apache.spark.sql.SparkSession,
                             paths: String*): Option[String] = {
    val where = paths.mkString(", ")
    if (paths.forall(footerSchema(spark, _).isEmpty))
      Some(s"no footer schema under $where")
    else {
      val stored = StoredParquet.read(spark, paths: _*)
      val inferred = spark.read.parquet(paths: _*)
      if (stored.schema != inferred.schema ||
          stored.schema.map(_.metadata) != inferred.schema.map(_.metadata))
        Some(s"schema of $where: ${stored.schema} vs ${inferred.schema}")
      else if (rowsOf(stored) != rowsOf(inferred)) Some(s"rows of $where")
      else None
    }
  }

  /** Writes `(id, name)` rows to `file` with parquet-mr's example writer,
    * which records no Spark row metadata (a store written by another
    * tool). */
  def writeForeign(spark: org.apache.spark.sql.SparkSession, file: Path,
                   rows: Seq[(Long, String)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary name (UTF8); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, name) =>
      w.write(groups.newGroup().append("id", id).append("name", name))
    } finally w.close()
  }
}
