package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.spec.{JLong, JObj, JString, Json}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Reads parquet that this engine wrote without Spark's schema inference,
  * and writes the runner's results so that reading them needs no footer.
  *
  * `spark.read.parquet(dir)` infers the schema by reading one part file's
  * footer inside a one-task Spark job. [[read]] takes the schema, with no
  * job, from the first of:
  *  1. [[SchemaFile]] in the dir, which [[write]] leaves beside the part
  *     files (the runner's results);
  *  2. the footer of the first part file: Spark stores the written frame's
  *     schema in every footer it writes, under [[RowMetadataKey]], and that
  *     key is what the inference job returns;
  *  3. plain inference, for a path with no part file or a part file
  *     without the key (a store written by another tool).
  *
  * Partition columns are not in either record: Spark still discovers them
  * from the `name=value` directories, with the same types as before.
  *
  * Use it only where one writer in this engine produced every file under
  * the paths (inference also reads a single footer and assumes the rest
  * agree). */
object StoredParquet {

  val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Written by [[write]] beside the part files: the frame's schema as
    * Spark's schema JSON (the form of the [[RowMetadataKey]] string) and
    * each part file's name and byte length. Spark's file listing skips
    * `_`-prefixed names, so scans never read it. */
  val SchemaFile = "_schema.json"

  /** A dir whose [[SchemaFile]] does not match the part files listed
    * beside it (one missing, of another length, or unrecorded), or is
    * itself unreadable. */
  final class CorruptDir(val dir: String, val detail: String)
    extends java.io.IOException(s"$dir: $detail")

  /** Writes `df` to `dir` as zstd parquet, then [[SchemaFile]]. */
  def write(df: DataFrame, dir: java.nio.file.Path): Unit = {
    df.write.mode("overwrite").option("compression", "zstd").parquet(dir.toString)
    val listing = Files.list(dir)
    val parts = try listing.iterator().asScala.toList
      .filter(f => visible(f.getFileName.toString) && Files.isRegularFile(f))
      .map(f => f.getFileName.toString -> JLong(Files.size(f)))
    finally listing.close()
    Files.writeString(dir.resolve(SchemaFile), Json.render(JObj(
      "schema" -> JString(df.schema.json), "parts" -> JObj(parts: _*))))
  }

  /** The frame stored under `paths`. When the one path holds exactly one
    * data file that Spark reads as a single split, the frame is declared
    * single-partition (`coalesce(1)`, the same one scan task), so Catalyst
    * plans no exchange for an aggregate, window or sort above it. Every
    * stage above it then runs in that one task too, so a dataset that a
    * whole graph computes from opens with [[readSource]] instead.
    *
    * @throws CorruptDir when a dir's [[SchemaFile]] disagrees with its
    *                    part files */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val (df, oneSplit) = open(spark, paths)
    if (oneSplit) df.coalesce(1) else df
  }

  /** [[read]] without the single-partition declaration: stages above the
    * scan keep their exchanges and their parallelism. */
  def readSource(spark: SparkSession, dir: String): DataFrame =
    open(spark, Seq(dir))._1

  /** The frame stored under `paths`, and whether it is one dir holding one
    * data file that Spark reads as a single split. */
  private def open(spark: SparkSession,
                   paths: Seq[String]): (DataFrame, Boolean) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listed = paths.map { p =>
      val dir = new Path(p)
      val fs = dir.getFileSystem(conf)
      // a missing path lists as empty: inference then reports it the way
      // it always did
      val all = try fs.listStatus(dir).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      (fs, dir, all)
    }
    val recorded = listed.flatMap { case (fs, dir, all) =>
      all.find(_.getPath.getName == SchemaFile).map(s => checked(fs, dir, all, s))
    }
    val schema = recorded.headOption.orElse(
      footerOf(conf, listed.iterator.map { case (fs, _, all) => (fs, all) }))
    val df = schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
    val oneSplit = listed match {
      case Seq((_, _, all)) =>
        val (dirs, files) = all.filter(s => visible(s.getPath.getName))
          .partition(_.isDirectory)
        dirs.isEmpty && files.size == 1 && files.head.getLen <= singleSplitBytes(spark)
      case _ => false
    }
    (df, oneSplit)
  }

  /** The schema Spark recorded in the footer of the first part file found
    * in `dirs` (file system, listing), or None. An IO failure (a file
    * removed between the listing and the open) is None as well: the
    * fallback's own read then reports it the way it always did. */
  private def footerOf(conf: org.apache.hadoop.conf.Configuration,
                       dirs: Iterator[(FileSystem, Seq[FileStatus])]): Option[StructType] =
    try dirs.flatMap { case (fs, all) => firstPart(fs, all) }
      .nextOption().flatMap(footerKey(conf, _))
    catch { case _: java.io.IOException => None }

  private def footerKey(conf: org.apache.hadoop.conf.Configuration,
                        file: Path): Option[StructType] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get(RowMetadataKey)
    finally reader.close()
    Option(json).flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
      .collect { case s: StructType => s }
  }

  /** The schema `dir`'s [[SchemaFile]] records, once its part list matches
    * the part files in `all` (the dir's listing) name for name and length
    * for length. */
  private def checked(fs: FileSystem, dir: Path, all: Seq[FileStatus],
                      file: FileStatus): StructType = {
    def corrupt(detail: String) = new CorruptDir(dir.toString, detail)
    val (schema, parts) = try {
      val in = fs.open(file.getPath)
      val JObj(fields) = try Json.parse(new String(in.readAllBytes(),
        StandardCharsets.UTF_8)) finally in.close()
      val (JString(s), JObj(ps)) = (fields("schema"), fields("parts"))
      (DataType.fromJson(s).asInstanceOf[StructType],
        ps.map { case (n, v) => n -> v.asInstanceOf[JLong].value })
    } catch {
      case e: java.io.IOException => throw e
      case scala.util.control.NonFatal(e) =>
        throw corrupt(s"unreadable $SchemaFile: $e")
    }
    val listed = all.filter(s => !s.isDirectory && visible(s.getPath.getName))
      .map(s => s.getPath.getName -> s.getLen).toMap
    (parts.keySet ++ listed.keySet).toSeq.sorted.foreach { n =>
      (parts.get(n), listed.get(n)) match {
        case (Some(want), Some(got)) if want != got =>
          throw corrupt(s"$n is $got bytes, $SchemaFile records $want")
        case (Some(_), None) => throw corrupt(s"$n is missing")
        case (None, Some(_)) => throw corrupt(s"$n is not in $SchemaFile")
        case _ => ()
      }
    }
    schema
  }

  /** Largest file Spark reads as one split: it splits a file only above
    * `min(maxPartitionBytes, max(openCostInBytes, bytes per core))`. */
  private def singleSplitBytes(spark: SparkSession): Long =
    Seq("spark.sql.files.openCostInBytes", "spark.sql.files.maxPartitionBytes")
      .map(k => JavaUtils.byteStringAsBytes(spark.conf.get(k))).min

  /** The names Spark's own listing reads (not `_SUCCESS`, `_temporary`,
    * [[SchemaFile]] or `.crc` files). */
  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Depth-first search for a `part-*.parquet` file among a dir's listing
    * `all` and below. */
  private def firstPart(fs: FileSystem, all: Seq[FileStatus]): Option[Path] = {
    val (dirs, files) = all.filter(s => visible(s.getPath.getName))
      .partition(_.isDirectory)
    files.map(_.getPath).find { f =>
      val n = f.getName
      n.startsWith("part-") && n.endsWith(".parquet")
    }.orElse(dirs.iterator.flatMap(d =>
      firstPart(fs, fs.listStatus(d.getPath).toSeq)).nextOption())
  }
}
