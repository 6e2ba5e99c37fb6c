package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Dev-only stage profiler: times named sub-pipelines of the hot bench
  * queries so optimization targets the measured stage, not a guess.
  * Usage: `sbt "runMain graft.tools.Profile <sfDir> [filter]"`.
  */
object Profile {

  private def time(name: String)(f: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    f.write.format("noop").mode("overwrite").save()
    println(f"PROFILE $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse {
      System.err.println("usage: Profile <sfDir> [filter]"); sys.exit(2)
    }
    val only = args.lift(1)
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def want(k: String) = only.forall(k.contains)

    // warmup: touch the scans
    SparkEntry.queries("q_load_parquet")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    if (want("minhash")) {
      import graft.ext.Dedup
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val words = filter(split(lower(col("text")), "[^\\p{L}\\p{N}]+"),
        w => length(w) > 0)
      time("minhash:words-only")(docs.select(words.as("w")))
      time("minhash:signatures")(docs.select(col("doc_id"),
        Dedup.minhashSignatureUdf(64, 3)(words).as("sig")))
      time("minhash:candidates")(
        Dedup.minhashCandidates(docs, "text", "doc_id", shingleN = 3))
      time("minhash:full")(SparkEntry.queries("q_dedup_minhash")(spark, sfDir))
      time("minhash:full-again")(SparkEntry.queries("q_dedup_minhash")(spark, sfDir))
    }

    if (want("probe")) {
      time("probe:predict")(SparkEntry.queries("q_probe_predict")(spark, sfDir))
      time("probe:eval")(SparkEntry.queries("q_probe_eval")(spark, sfDir))
      time("probe:predict-again")(SparkEntry.queries("q_probe_predict")(spark, sfDir))
    }

    if (want("slice")) {
      time("slice:first")(SparkEntry.queries("q_runner_slice")(spark, sfDir))
      time("slice:again")(SparkEntry.queries("q_runner_slice")(spark, sfDir))
    }

    if (want("q1")) {
      time("q1_agg:first")(SparkEntry.queries("q1_agg")(spark, sfDir))
      time("q1_agg:again")(SparkEntry.queries("q1_agg")(spark, sfDir))
    }

    if (want("grouped")) {
      time("grouped:first")(SparkEntry.queries("q_grouped")(spark, sfDir))
      time("grouped:again")(SparkEntry.queries("q_grouped")(spark, sfDir))
    }

    if (want("lang")) {
      time("lang_id:first")(SparkEntry.queries("q_lang_id")(spark, sfDir))
      time("lang_id:again")(SparkEntry.queries("q_lang_id")(spark, sfDir))
    }

    if (want("llm")) {
      time("llm_generate:first")(SparkEntry.queries("q_llm_generate")(spark, sfDir))
      time("llm_generate:again")(SparkEntry.queries("q_llm_generate")(spark, sfDir))
      time("llm_activations")(SparkEntry.queries("q_llm_activations")(spark, sfDir))
    }

    if (want("planted")) {
      time("minhash_planted:first")(
        SparkEntry.queries("q_dedup_minhash_planted")(spark, sfDir))
    }

    if (want("curate")) {
      // stage-by-stage decomposition of q_curate_pipeline: each toFrame
      // materializes one more op into the store on top of cached deps
      import graft.spec._
      import graft.runner.LocalSparkRunner
      import graft.ops.ColumnOps
      val store = java.nio.file.Files.createTempDirectory("graft-prof-store-")
      val r = new LocalSparkRunner(spark, store.toString)
      val ds = r.fromParquet(s"$sfDir/documents.parquet")
      val benchText = SelectTextColumnOp(TakeRowsOp(ds, skip = 20L), "text")
      time("curate:benchText")(r.toFrame(benchText))
      val flag = ContaminationFlagOp(SelectTextColumnOp(ds, "text"), benchText, n = 5L)
      time("curate:flag")(r.toFrame(flag))
      val clean = MaskRowsOp(ds, BooleanLogicOp("not", flag, flag))
      time("curate:mask")(r.toFrame(clean))
      val dedup = DropExactDuplicatesOp(clean, SelectTextColumnOp(clean, "text"))
      time("curate:dedup")(r.toFrame(dedup))
      val samp = StratifiedSampleOp(dedup,
        SelectCategoricalColumnOp(dedup, "lang"), frac = 0.5)
      time("curate:sample")(r.toFrame(samp))
      val rendered = JinjaTemplatizeOp("[{{lang}}] {{text}}", Map(
        "lang" -> SelectCategoricalColumnOp(samp, "lang"),
        "text" -> SelectTextColumnOp(samp, "text")))
      time("curate:render")(r.toFrame(rendered))
      time("curate:join")(
        r.toFrame(samp).select(col("doc_id"), col(ColumnOps.RowIdx))
          .join(r.toFrame(rendered)
            .select(col(ColumnOps.RowIdx), col("value").as("rendered")),
            ColumnOps.RowIdx)
          .select(col("doc_id"), col("rendered")))
      r.close()
    }

    // generic: an exact query name runs that query 3× (steady state = run 2+)
    only.filter(SparkEntry.queries.contains).foreach { q =>
      (1 to 3).foreach { i =>
        time(s"$q:run$i")(SparkEntry.queries(q)(spark, sfDir))
      }
    }

    spark.stop()
  }
}
