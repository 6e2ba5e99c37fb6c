package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every size is fixed by the workload, never by
  * the seed: the seed only picks words, labels and planted copies, so two
  * seeds give inputs of identical row counts and file counts. */
object Gen {

  private val Syl = Array("ka", "lo", "mi", "nu", "pe", "ra", "si", "to",
    "vu", "ze", "bo", "da", "fi", "gu", "he", "jo")

  /** Distinct pseudo-word for every index, at least two syllables long (so
    * a typical word passes the Gopher mean-length rule). */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var n = i
    sb ++= Syl(n % 16); n /= 16
    sb ++= Syl(n % 16); n /= 16
    while (n > 0) { sb ++= Syl(n % 16); n /= 16 }
    sb.toString
  }

  /** The Gopher stopword list's members lead the vocabulary. */
  val Stopwords: Array[String] = Array("the", "a", "of", "to", "and")

  /** Zipf(1.1) sampler over `size` ranks. */
  final class Zipf(size: Int) {
    private val cum = {
      val c = new Array[Double](size)
      var acc = 0.0
      var i = 0
      while (i < size) { acc += 1.0 / math.pow(i + 1, 1.1); c(i) = acc; i += 1 }
      c
    }
    def draw(rnd: Random): Int = {
      val u = rnd.nextDouble() * cum(size - 1)
      val i = java.util.Arrays.binarySearch(cum, u)
      if (i >= 0) i else -i - 1
    }
  }

  /** Vocabulary rank → word: the stopwords first, then pseudo-words. */
  def vocab(rank: Int): String =
    if (rank < Stopwords.length) Stopwords(rank) else word(rank)

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))

  /** Writes `rows` as `files` parquet files named part-00000.parquet … in
    * row order (a directory load's row index follows file-name order),
    * with no Spark side files, and returns the file paths. */
  def writeParquet(spark: SparkSession, rows: Seq[Row], files: Int,
                   dir: Path): Seq[Path] = {
    val staging = dir.resolveSibling(dir.getFileName.toString + ".staging")
    val slices = math.max(1, files)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), DocSchema)
      .write.option("compression", "snappy").parquet(staging.toString)
    Files.createDirectories(dir)
    val parts = listSorted(staging).filter(p =>
      p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
    val out = parts.zipWithIndex.map { case (p, i) =>
      val target = dir.resolve(f"part-$i%05d.parquet")
      Files.move(p, target)
      target
    }
    Workload.deleteTree(staging)
    out
  }

  private def listSorted(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    } finally s.close()
  }

  // ---------------- probe_sweep ----------------

  val Langs: Seq[String] = Seq("en", "de", "fr", "es")
  val LangShare: Seq[Double] = Seq(0.4, 0.2, 0.2, 0.2)
  val Sources: Seq[String] = Seq("web", "books", "news", "code", "wiki")
  val SourceShare: Seq[Double] = Seq(0.3, 0.2, 0.2, 0.15, 0.15)

  private def pick(rnd: Random, shares: Seq[Double]): Int = {
    val u = rnd.nextDouble()
    var acc = 0.0
    var i = 0
    while (i < shares.length - 1) {
      acc += shares(i)
      if (u < acc) return i
      i += 1
    }
    shares.length - 1
  }

  /** Labelled documents: each language and each source owns a block of
    * the vocabulary that its documents draw from, so a probe on either
    * label has signal. Returns the (lang, source) of every row. */
  def probeDocs(spark: SparkSession, seed: Long, n: Int,
                dir: Path): Seq[(String, String)] = {
    val rnd = new Random(seed * 31 + 1)
    val zipf = new Zipf(4000)
    val labels = ArrayBuffer.empty[(String, String)]
    val rows = (0 until n).map { i =>
      val l = pick(rnd, LangShare)
      val s = pick(rnd, SourceShare)
      val len = 20 + rnd.nextInt(41)
      val ws = (0 until len).map { _ =>
        val u = rnd.nextDouble()
        if (u < 0.35) word(5000 + l * 400 + rnd.nextInt(400))
        else if (u < 0.6) word(8000 + s * 400 + rnd.nextInt(400))
        else vocab(zipf.draw(rnd))
      }
      labels += Langs(l) -> Sources(s)
      Row(i.toLong, ws.mkString(" "), Langs(l), Sources(s))
    }
    writeParquet(spark, rows, 1, dir)
    labels.toSeq
  }

  /** Flat single-block transformer weights for the in-process `tf:`
    * provider: dyadic entries k/32, k uniform in [-8, 8], from the seed. */
  def tfWeights(seed: Long, dim: Int, maxLen: Int, path: Path): Unit = {
    val rnd = new Random(seed * 31 + 2)
    def v() = ((rnd.nextInt(17) - 8) / 32.0).toString
    def row() = (0 until dim).map(_ => v()).mkString("[", ",", "]")
    def mat() = (0 until dim).map(_ => row()).mkString("[", ",", "]")
    val json =
      s"""{"dim": $dim, "max_len": $maxLen,
         | "wq": ${mat()}, "wk": ${mat()}, "wv": ${mat()},
         | "w1": ${mat()}, "b1": ${row()},
         | "w2": ${mat()}, "b2": ${row()}}
         |""".stripMargin
    Files.createDirectories(path.getParent)
    Files.writeString(path, json)
  }

  // ---------------- curate_corpus ----------------

  /** What the curation corpus planted, for the output checks. */
  final case class Corpus(rows: Int, files: Int, exactCopies: Set[Long],
                          nearCopies: Set[Long], short: Int, repetitive: Int)

  /** A corpus with a large Zipf vocabulary, planted failure modes for the
    * quality filter (short and repetitive documents), exact copies and
    * near copies (two words substituted) of earlier documents. A copy
    * always sits in its original's file, after it: a directory load orders
    * rows by file only up to the scan's file packing, but keeps each
    * file's rows in order, so the original always has the lower row index. */
  def corpus(spark: SparkSession, seed: Long, n: Int, files: Int, vocabSize: Int,
             dir: Path): Corpus = {
    require(n % files == 0, s"$n documents do not split into $files files")
    val rnd = new Random(seed * 31 + 3)
    val zipf = new Zipf(vocabSize)
    val texts = new Array[String](n)
    val exact = Set.newBuilder[Long]
    val near = Set.newBuilder[Long]
    var short = 0
    var repetitive = 0
    val perFile = n / files
    for (f <- 0 until files) {
      val originals = ArrayBuffer.empty[Int]
      for (i <- f * perFile until (f + 1) * perFile) {
        val u = rnd.nextDouble()
        if (u < 0.05 && originals.nonEmpty) {
          texts(i) = texts(originals(rnd.nextInt(originals.length)))
          exact += i.toLong
        } else if (u < 0.10 && originals.nonEmpty) {
          val ws = texts(originals(rnd.nextInt(originals.length))).split(" ")
          for (_ <- 0 until 2) ws(rnd.nextInt(ws.length)) = vocab(zipf.draw(rnd))
          texts(i) = ws.mkString(" ")
          near += i.toLong
        } else {
          val v = rnd.nextDouble()
          val ws =
            if (v < 0.08) { short += 1; Seq.fill(10 + rnd.nextInt(30))(vocab(zipf.draw(rnd))) }
            else if (v < 0.12) {
              repetitive += 1
              val few = Seq.fill(4)(vocab(5 + rnd.nextInt(vocabSize - 5)))
              Seq.fill(60 + rnd.nextInt(60))(few(rnd.nextInt(4)))
            } else Seq.fill(60 + rnd.nextInt(100))(vocab(zipf.draw(rnd)))
          texts(i) = ws.mkString(" ")
          originals += i
        }
      }
    }
    val rows = texts.indices.map(j => Row(j.toLong, texts(j), "en", "web"))
    writeParquet(spark, rows, files, dir)
    Corpus(n, files, exact.result(), near.result(), short, repetitive)
  }

  // ---------------- stream_ingest ----------------

  /** Index head, a warm-up backlog of three files and the measured backlog
    * of `files` files of `perFile` documents. Each backlog's modification
    * times follow file order (the file source reads oldest first). Returns
    * (head rows, measured backlog rows). */
  def streamCorpus(spark: SparkSession, seed: Long, head: Int, files: Int,
                   perFile: Int, vocabSize: Int, headDir: Path, warmDir: Path,
                   backlogDir: Path): (Seq[Row], Seq[Row]) = {
    val rnd = new Random(seed * 31 + 4)
    val zipf = new Zipf(vocabSize)
    var next = 0L
    def docs(n: Int) = (0 until n).map { _ =>
      next += 1
      Row(next, Seq.fill(30 + rnd.nextInt(60))(vocab(zipf.draw(rnd))).mkString(" "),
        "en", "web")
    }
    val headRows = docs(head)
    val warmRows = docs(3 * perFile)
    val backlogRows = docs(files * perFile)
    writeParquet(spark, headRows, 1, headDir)
    val base = System.currentTimeMillis() - 10L * 60 * 1000
    for ((rows, n, dir) <- Seq((warmRows, 3, warmDir), (backlogRows, files, backlogDir)))
      writeParquet(spark, rows, n, dir).zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(base + i * 1000L))
      }
    (headRows, backlogRows)
  }
}
