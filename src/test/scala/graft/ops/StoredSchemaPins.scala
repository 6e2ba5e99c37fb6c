package graft.ops

import org.scalatest.{Failed, Outcome, Succeeded}

/** Mixed into a suite whose fixtures persist frames through a runner: once
  * a test has passed, every frame it persisted into a store made with
  * `newStoreDir()` must carry a [[StoredParquet.SchemaFile]] that records
  * the schema Spark put in the frame's footer
  * ([[StoredParquetSpec.schemaFileMismatches]]). */
trait StoredSchemaPins extends graft.SparkTestBase {

  private val stores = scala.collection.mutable.Buffer.empty[String]

  override def newStoreDir(): String = {
    val d = super.newStoreDir()
    stores.synchronized(stores += d)
    d
  }

  override def withFixture(test: NoArgTest): Outcome = {
    stores.synchronized(stores.clear())
    super.withFixture(test) match {
      case Succeeded =>
        val bad = stores.synchronized(stores.toList)
          .flatMap(StoredParquetSpec.schemaFileMismatches(spark, _))
        if (bad.isEmpty) Succeeded
        else Failed(s"persisted frames disagree with their footers: ${bad.mkString("; ")}")
      case other => other
    }
  }
}
