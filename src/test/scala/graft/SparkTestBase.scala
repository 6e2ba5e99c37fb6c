package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local[*] session + temp store per suite (the Spark analog of the
  * reference's `LocalArrowRunner(store_uri="memory://")` hermetic-test trick,
  * `tests/test_local_arrow_runner.py:72-75`). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  def newStoreDir(): String =
    java.nio.file.Files.createTempDirectory("graft-store-").toString

  override def afterAll(): Unit = () // session shared across suites
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // bucketed-table tests write through the session catalog; keep the
      // warehouse out of the repo working tree
      .config("spark.sql.warehouse.dir", java.nio.file.Files
        .createTempDirectory("graft-warehouse-").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
