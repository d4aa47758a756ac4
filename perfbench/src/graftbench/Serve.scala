package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** `serve`: a CLOSED loop with ONE client against the staged vector index.
  * The client sends seeded top-k requests, rotating
  * `embeddingIvfTopKIndexed`, `ivfPqTopKIndexed` and `embeddingBatchTopK`
  * (small batches), and blocks on each answer. Every [[Serve.WriteEvery]]
  * requests it makes one write, alternating a takedown (tombstone epoch +
  * `registerIndexSegments`, retiring the previous takedown with
  * `dropIndexSegments`) and an append (`appendToStagedIvfIndex`). Recall
  * is recall@k against brute-force exact cosine over the corpus served at
  * the time of the request (base + appends - active takedowns).
  *
  * A traced request is two spans: `operators` while the call builds the
  * answer's plan (it reads the staged artifacts and the serving
  * registrations, and may run jobs of its own), then `engine` while the
  * plan is collected. */
final class Serve(seed: Long) extends Workload {
  import Serve._

  val setups = 3

  private var sf: String = _
  private var dir: Path = _
  private var corpus: Array[Array[Float]] = _
  private var pool: Array[Array[Float]] = _
  private val rng = new SplittableRandom(seed ^ 0x5eed)
  /** Served-state bookkeeping: appended count and the active takedown. */
  private var appended = 0
  private var tombstoned: Set[Long] = Set.empty
  private var writes = 0
  /** Write timings and the staleness after each write, over every
    * measured window so far: a window holds only one or two writes. */
  private val takedownMs = ArrayBuffer.empty[Double]
  private val appendMs = ArrayBuffer.empty[Double]
  private val stale = ArrayBuffer.empty[Double]

  def setup(spark: SparkSession, d: Path): Unit = {
    dir = d
    val sfDir = Files.createDirectories(d.resolve("corpus"))
    sf = sfDir.toString
    Trace.span("bench", "gen_vectors") {
      val all = Gen.vectors(seed, Vectors + AppendPool)
      corpus = all.take(Vectors); pool = all.drop(Vectors)
      Gen.writeTable(spark, sfDir, "embeddings", Gen.EmbSchema, Gen.embRows(0L, corpus.toSeq))
    }
    def stage(name: String)(body: => Any): Unit = Trace.span("util", s"stage.$name") { body; () }
    stage("centroids")(SimilarityOps.stagedCentroidIndex(spark, sf))
    stage("pq_codebook")(SimilarityOps.stagedPqCodebook(spark, sf))
    stage("ivf_index")(SimilarityOps.stagedIvfIndexDir(spark, sf))
    stage("geometry")(SimilarityOps.stagedDeclaredC(spark, sf))
  }

  def warmup(spark: SparkSession): Unit = {
    (0 until Kinds).foreach(k => request(spark, k, -1L))
    takedown(spark); append(spark)
  }

  /** Query ids in a seeded order without repeats: a repeated id would
    * reuse the previous request's generated code, and how often that
    * happens by chance would vary the cost of a run from seed to seed. */
  private lazy val queryOrder: Iterator[Long] = {
    val ids = Array.tabulate(Vectors)(_.toLong)
    (ids.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    Iterator.continually(ids).flatten
  }

  private def liveQuery(): Long = queryOrder.find(q => !tombstoned.contains(q)).get

  /** One read request of `kind`; `id` tags its spans. */
  private def request(spark: SparkSession, kind: Int, id: Long): Answer = {
    val qids = if (kind == 2) Seq.fill(BatchSize)(liveQuery()).distinct else Seq(liveQuery())
    def answer(name: String)(plan: => DataFrame): Seq[Row] = {
      val df = Trace.span("operators", s"topk.$name", id)(plan)
      Trace.span("engine", s"collect.$name", id)(df.collect().toSeq)
    }
    val got: Map[Long, Seq[Long]] = kind match {
      case 0 => Map(qids.head -> answer("ivf")(
        SimilarityOps.embeddingIvfTopKIndexed(spark, sf, qids.head, K)).map(_.getLong(0)))
      case 1 => Map(qids.head -> answer("pq")(
        SimilarityOps.ivfPqTopKIndexed(spark, sf, qids.head, K)).map(_.getLong(0)))
      case _ => answer("batch")(SimilarityOps.embeddingBatchTopK(spark, sf, qids, K))
        .groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
          q -> rs.sortBy(_.getAs[Int]("rnk")).map(_.getAs[Long]("vec_id"))
        }
    }
    Answer(qids, got, appended, tombstoned)
  }

  private def takedown(spark: SparkSession): Double = Util.timed {
    Trace.span("operators", "takedown", writes) {
      import spark.implicits._
      SimilarityOps.dropIndexSegments(sf)
      val ids = Iterator.continually(rng.nextInt(Vectors).toLong).distinct
        .take(TakedownSize).toSeq
      val root = Files.createDirectories(dir.resolve(s"takedown$writes"))
      SimilarityOps.tombstoneSegmentRows(spark, sf, ids.toDF("vec_id"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$root/epoch=0")
      SimilarityOps.registerIndexSegments(spark, sf, root.toString)
      tombstoned = ids.toSet
    }
  }._2

  private def append(spark: SparkSession): Double = Util.timed {
    Trace.span("operators", "append", writes) {
      val n = math.min(AppendSize, pool.length - appended)
      val rows = Gen.embRows(Vectors.toLong + appended,
        pool.slice(appended, appended + n).toSeq)
      SimilarityOps.appendToStagedIvfIndex(spark, sf,
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), Gen.EmbSchema))
      appended += n
    }
  }._2

  def run(spark: SparkSession, seconds: Double): Window = {
    val lat = Array.fill(Kinds)(ArrayBuffer.empty[Double])
    val answers = ArrayBuffer.empty[Answer]
    var failed = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (Util.secondsSince(t0) < seconds) {
      // the first write comes half a cycle in, so a short window makes one
      if (i % WriteEvery == WriteEvery / 2) {
        writes += 1
        if (writes % 2 == 1) takedownMs += takedown(spark) * 1e3
        else appendMs += append(spark) * 1e3
        stale += SimilarityOps.ivfIndexStaleFraction(spark, sf)
      }
      val kind = i % Kinds
      val r0 = System.nanoTime()
      try answers += request(spark, kind, i)
      catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); failed += 1 }
      lat(kind) += Util.secondsSince(r0) * 1e3
      i += 1
    }
    val wall = Util.secondsSince(t0)
    val recall = Trace.span("bench", "ground_truth")(recallOf(answers.toSeq))
    // throughput over the client's read time: the writes between reads
    // are timed on their own (takedown_ms, append_ms)
    val readS = lat.map(_.sum).sum / 1e3
    Window(items = i, wallS = wall, itemsPerS = i / readS,
      latMs = lat.toSeq.flatten, recall = recall, attempted = i, failed = failed,
      layer = Map(
        "topk_ms.ivf" -> Util.median(lat(0).toSeq),
        "topk_ms.pq" -> Util.median(lat(1).toSeq),
        "topk_ms.batch" -> Util.median(lat(2).toSeq),
        "takedown_ms" -> Util.mean(takedownMs.toSeq),
        "append_ms" -> Util.mean(appendMs.toSeq),
        "stale_fraction" -> Util.mean(stale.toSeq)))
  }

  /** Vector of a served id: base corpus or an appended pool row. */
  private def vec(id: Long): Array[Float] =
    if (id < Vectors) corpus(id.toInt) else pool((id - Vectors).toInt)

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var j = 0
    while (j < a.length) {
      d += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j); j += 1
    }
    d / math.sqrt(na * nb)
  }

  /** Mean recall@k over every query answered, against exact top-k over
    * the corpus served when the request ran (the query itself excluded). */
  private def recallOf(answers: Seq[Answer]): Double = {
    val per = answers.flatMap { a =>
      a.qids.map { q =>
        val qv = vec(q)
        val truth = (0L until Vectors.toLong + a.appended).iterator
          .filter(id => id != q && !a.tombstoned.contains(id))
          .map(id => (id, cosine(qv, vec(id))))
          .toSeq.sortBy { case (id, c) => (-c, id) }.take(K).map(_._1).toSet
        a.got.getOrElse(q, Nil).count(truth.contains).toDouble / K
      }
    }
    Util.mean(per)
  }

  /** Indexed answers (single and batched) must equal the unindexed
    * `embeddingIvfTopK` over the served corpus minus takedowns, under the
    * same staged centroids and probe count. */
  def check(spark: SparkSession): (Long, Long) = {
    import spark.implicits._
    val cents = SimilarityOps.stagedCentroidIndex(spark, sf).toDF("cent_id", "ce")
    val np = SimilarityOps.defaultNumProbe(SimilarityOps.stagedDeclaredC(spark, sf))
    val appendedRows = Gen.embRows(Vectors.toLong, pool.take(appended).toSeq)
    val live = graft.model.Fixtures.embeddings(spark, sf)
      .unionByName(spark.createDataFrame(java.util.Arrays.asList(appendedRows: _*),
        Gen.EmbSchema))
      .filter(!col("vec_id").isin(tombstoned.toSeq: _*))
    val qs = Seq.fill(Checks)(liveQuery())
    val batch = SimilarityOps.embeddingBatchTopK(spark, sf, qs, K).collect().toSeq
      .groupBy(_.getAs[Long]("qid"))
    val failed = qs.count { q =>
      val exact = SimilarityOps.embeddingIvfTopK(live, q, K, Some(cents), np).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val indexed = SimilarityOps.embeddingIvfTopKIndexed(spark, sf, q, K).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batched = batch.getOrElse(q, Nil).sortBy(_.getAs[Int]("rnk"))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))
      val ok = exact.nonEmpty && exact == indexed && exact == batched
      if (!ok) System.err.println(s"serve check failed for query $q: " +
        s"exact=$exact indexed=$indexed batched=$batched")
      !ok
    }
    SimilarityOps.dropIndexSegments(sf)
    (qs.size.toLong, failed.toLong)
  }

  def probes(spark: SparkSession): Map[String, Double] = {
    val docs = Gen.docs(seed, 4000)
    Probes.codec(Probes.framesOf(docs.map(_.text))) ++
      Probes.kernels(spark, docs.map(_.text), corpus.take(4000).toSeq, seed) ++
      Probes.decode(spark, spark.createDataFrame(
        java.util.Arrays.asList(Gen.docRows(docs.take(400)): _*), Gen.DocSchema))
  }
}

object Serve {
  /** One answered request and the served state it ran against. */
  final case class Answer(qids: Seq[Long], got: Map[Long, Seq[Long]],
      appended: Int, tombstoned: Set[Long])

  /** Corpus size of the sf0.1 embeddings fixture. */
  val Vectors = 2000
  /** Vectors held back from the corpus for the append writes. */
  val AppendPool = 2000
  /** k of the repo's top-k contract keys (`emb_ivf_topk`, `ivfpq`, `ann_batch`). */
  val K = 10
  /** Request kinds: IVF flat, IVF+PQ, batched, in equal shares. */
  val Kinds = 3
  /** Queries per batched request: the `ann_batch` contract key's batch of 3. */
  val BatchSize = 3
  /** Reads between two writes. An assumption (no traffic trace exists):
    * a multiple of [[Kinds]], so every read kind runs equally often
    * against the state each write leaves. */
  val WriteEvery = 6
  /** Ids per takedown: the `ann_del` contract key retires 1/17 of the
    * corpus (`vec_id % 17 = 3`) in one tombstone epoch. */
  val TakedownSize = Vectors / 17
  /** Vectors per append. An assumption: the same row count as a
    * takedown, so the two writes change the served corpus equally. */
  val AppendSize = TakedownSize
  val Checks = 2
}
