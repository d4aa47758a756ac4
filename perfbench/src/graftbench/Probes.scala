package graftbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{MsgFrame, MsgLogCodec}

/** Layer probes the traced run makes after its measured window, over the
  * workload's own rows: Catalyst kernels through a one-column projection
  * (ns/row), the message-log frame codec (MB/s, CRC included) and the
  * media decode path (µs/asset). Each figure is the median of 3 timed
  * passes after one untimed pass. */
object Probes {

  private def median3(body: => Unit): Double = {
    body
    Util.median(Seq.fill(3)(Util.timed(body)._2))
  }

  /** Nanoseconds per row of the kernel expression `e` evaluated through a
    * one-column generated projection over the rows of `df`, on one thread
    * (no Spark job around it, so the figure is the kernel's own cost). */
  private def nsPerRow(df: DataFrame, e: Column): Double = {
    val plan = df.select(e.as("x")).queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Project]
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(plan.projectList, plan.child.output)
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    median3 { var i = 0; while (i < rows.length) { proj(rows(i)); i += 1 } } /
      rows.length * 1e9
  }

  private type Column = org.apache.spark.sql.Column

  /** Rows per kernel probe (the workload's rows, repeated if needed). */
  val ProbeRows = 2000

  def kernels(spark: SparkSession, texts: Seq[String],
      vecs: Seq[Array[Float]], seed: Long): Map[String, Double] =
    Trace.span("functions", "kernel_probe") {
      graft.GraftSession.registerFunctions(spark)
      def fill[T](xs: Seq[T]): Seq[T] = Iterator.continually(xs).flatten.take(ProbeRows).toSeq
      val tdf = spark.createDataFrame(java.util.Arrays.asList(fill(texts).map(Row(_)): _*),
          StructType.fromDDL("text STRING"))
        .select(col("text"), split(col("text"), " ").as("w"))
        .select(col("text"), col("w"), slice(reverse(col("w")), 2, 1000).as("w2"))
      val r = new java.util.SplittableRandom(seed)
      val cb = typedLit(Seq.fill(graft.operators.SimilarityOps.PqCodes * Gen.Dim)(
        r.nextDouble() - 0.5))
      val pairs = fill(vecs.zip(vecs.drop(1) :+ vecs.head))
        .map { case (a, b) => Row(a.toSeq, b.toSeq) }
      val vdf = spark.createDataFrame(java.util.Arrays.asList(pairs: _*),
          StructType.fromDDL("a ARRAY<FLOAT>, b ARRAY<FLOAT>"))
        .select(col("a"), col("b"), transform(col("a"), _.cast("double")).as("x"))
      Map(
        "minhash_bands_ns" -> nsPerRow(tdf,
          call_function("minhash_bands", col("w"), lit(8), lit(2))),
        "word_shingles_ns" -> nsPerRow(tdf, call_function("word_shingles", col("w"), lit(3))),
        "jaccard_distinct_ns" -> nsPerRow(tdf,
          call_function("jaccard_distinct", col("w"), col("w2"))),
        "crc32c_ns" -> nsPerRow(tdf, call_function("crc32c", col("text").cast("binary"))),
        "cosine_sim_ns" -> nsPerRow(vdf, call_function("cosine_sim", col("a"), col("b"))),
        "pq_enc_ns" -> nsPerRow(vdf, call_function("pq_enc", col("x"), cb)))
    }

  /** Frame encode/decode throughput over `msgs`, packed as `pubsub`'s
    * producer packs them (64-message LZ4 frames) — MB of encoded frames
    * per second. */
  def codec(msgs: Seq[MsgFrame]): Map[String, Double] =
    Trace.span("sources", "codec_probe") {
      val groups = msgs.grouped(PubSub.FrameBatch).toSeq
      var bytes: Array[Byte] = null
      val enc = median3 {
        val bo = new ByteArrayOutputStream(1 << 20)
        val out = new DataOutputStream(bo)
        groups.foreach(g => MsgLogCodec.writeBatch(out, g, MsgLogCodec.CodecLz4))
        out.flush(); bytes = bo.toByteArray
      }
      var decoded = 0L
      val dec = median3 {
        val in = new DataInputStream(new ByteArrayInputStream(bytes))
        var n = 0L
        var e = MsgLogCodec.readEntries(in)
        while (e.isDefined) { n += e.get.length; e = MsgLogCodec.readEntries(in) }
        decoded = n
      }
      require(decoded == msgs.length, s"codec probe decoded $decoded of ${msgs.length}")
      val mb = bytes.length / 1e6
      Map("codec_encode_mb_s" -> mb / enc, "codec_decode_mb_s" -> mb / dec)
    }

  /** Media decode cost: synthesize the image assets of `docs` once
    * (cached), then time the fingerprint pass that decodes every asset. */
  def decode(spark: SparkSession, docs: DataFrame): Map[String, Double] =
    Trace.span("multimodal", "decode_probe") {
      val m = graft.operators.DedupOps.ImageModality
      val assets = m.table(docs).cache()
      val n = assets.count()
      val s = median3(m.fingerprint(assets).write.format("noop").mode("overwrite").save())
      assets.unpersist()
      Map("decode_us_per_asset" -> s / math.max(1L, n) * 1e6)
    }

  /** Frames built from the workload's own text rows, for workloads that
    * do not produce messages themselves. */
  def framesOf(texts: Seq[String]): Seq[MsgFrame] =
    texts.zipWithIndex.map { case (t, i) =>
      MsgFrame(i.toLong, i * 1000L, i % 64L, "doc", i.toDouble, t,
        producerName = "bench", sequenceId = i.toLong, eventTimeUs = i * 1000L)
    }
}
