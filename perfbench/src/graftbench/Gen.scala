package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Everything a workload feeds the program is
  * derived from the workload seed, so the same seed gives the same
  * documents, vectors, messages and request sequence. Inputs are written
  * in the fixture schemas (documents / embeddings as single parquet
  * files under a corpus dir), which is the only thing the program sees. */
object Gen {

  /** Fixed vocabulary (independent of the workload seed). */
  val Vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    Array.tabulate(4096) { _ =>
      val n = 3 + r.nextInt(7)
      new String(Array.fill(n)(('a' + r.nextInt(26)).toChar))
    }
  }

  /** Skewed word draw: low vocabulary ranks are far more frequent. */
  def word(r: SplittableRandom): String =
    Vocab((Vocab.length * math.pow(r.nextDouble(), 2.2)).toInt)

  def text(r: SplittableRandom, nWords: Int): String =
    Iterator.fill(nWords)(word(r)).mkString(" ")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  private val Langs = Array("en", "en", "en", "fr", "es", "de", "zh")

  /** `n` seeded documents of 30–89 words in the fixture's documents shape. */
  def docs(seed: Long, n: Int): Seq[Doc] = {
    val r = new SplittableRandom(seed)
    Seq.tabulate(n) { i =>
      Doc(i.toLong, text(r, 30 + r.nextInt(60)), Langs(r.nextInt(Langs.length)),
        s"src${r.nextInt(16)}")
    }
  }

  val Dim = 64

  /** Cluster centres of the generated vectors. */
  val Clusters = 48

  /** Clustered unit-free vectors: [[Clusters]] random centres, each vector
    * a centre plus isotropic noise. */
  def vectors(seed: Long, n: Int): Array[Array[Float]] = {
    val r = new SplittableRandom(seed)
    def gauss(): Double = {
      // Box-Muller on the seeded stream
      val u = math.max(r.nextDouble(), 1e-12); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val centres = Array.fill(Clusters, Dim)(gauss())
    Array.fill(n) {
      val c = centres(r.nextInt(Clusters))
      Array.tabulate(Dim)(j => (c(j) + 0.7 * gauss()).toFloat)
    }
  }

  val DocSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
  val EmbSchema: StructType = StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  def docRows(docs: Seq[Doc]): Seq[Row] =
    docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))

  def embRows(firstId: Long, vs: Seq[Array[Float]]): Seq[Row] =
    vs.zipWithIndex.map { case (v, i) =>
      Row(firstId + i, v.toSeq, ((firstId + i) % 10).toInt)
    }

  /** Write rows as ONE parquet file at `<dir>/<table>.parquet` (the
    * fixture layout the corpus loaders and stream stagers expect). */
  def writeTable(spark: SparkSession, dir: Path, table: String,
      schema: StructType, rows: Seq[Row]): Unit = {
    val tmp = dir.resolve(s".$table.tmp")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    Files.move(part, dir.resolve(s"$table.parquet"))
    Util.deleteTree(tmp)
  }
}

object Util {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
    finally w.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally w.close()
  }

  def countDirs(p: Path, pred: String => Boolean): Long = if (!Files.exists(p)) 0L else {
    val w = Files.walk(p)
    try w.filter(x => Files.isDirectory(x) && pred(x.getFileName.toString)).count()
    finally w.close()
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = body; (v, secondsSince(t0))
  }
}
