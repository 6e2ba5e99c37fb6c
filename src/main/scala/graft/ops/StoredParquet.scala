package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Reads parquet that this engine wrote without Spark's schema inference.
  *
  * `spark.read.parquet(dir)` infers the schema by reading one part file's
  * footer inside a one-task Spark job. Spark stores the written frame's
  * schema in every footer it writes, under [[RowMetadataKey]], and that key
  * is what the inference job returns; reading it here on the driver gives
  * the same schema with no job. Partition columns are not in the footer:
  * Spark still discovers them from the `name=value` directories, with the
  * same types as before.
  *
  * Use it only where one writer in this engine produced every file under
  * the paths (inference also reads a single footer and assumes the rest
  * agree). A path with no part file, or a part file without the key (a
  * store written by another tool), falls back to plain inference. */
object StoredParquet {

  val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The schema Spark recorded in the footer of the first part file found
    * under `paths`, or None. An IO failure (a file removed between the
    * listing and the open) is None as well: the fallback's own read then
    * reports it the way it always did. */
  private[graft] def footerSchema(spark: SparkSession,
                                  paths: Seq[String]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    try paths.iterator.flatMap { p =>
      val path = new Path(p)
      firstPart(path.getFileSystem(conf), path)
    }.nextOption().flatMap { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(RowMetadataKey)
      finally reader.close()
      Option(json).flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
        .collect { case s: StructType => s }
    } catch { case _: java.io.IOException => None }
  }

  /** Depth-first search for a `part-*.parquet` file, skipping the names
    * Spark's own listing skips (`_SUCCESS`, `_temporary`, `.crc` files). */
  private def firstPart(fs: FileSystem, dir: Path): Option[Path] = {
    val (dirs, files) = fs.listStatus(dir).toSeq
      .filterNot { s =>
        val n = s.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .partition(_.isDirectory)
    files.map(_.getPath).find { f =>
      val n = f.getName
      n.startsWith("part-") && n.endsWith(".parquet")
    }.orElse(dirs.iterator.flatMap(d => firstPart(fs, d.getPath)).nextOption())
  }
}
