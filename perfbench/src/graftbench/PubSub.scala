package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.sources.{MsgFrame, MsgLogSource}

/** `pubsub`: an OPEN loop through the message log. One generator thread
  * produces seeded ~1 KB envelope messages at a fixed offered rate with
  * `df.write.format("graft-msglog")` (batched, LZ4-compressed frames),
  * stamping each message's scheduled send time into `event_time`; one
  * `readStream.format("graft-msglog")` consumer, running micro-batches
  * back to back capped by `maxRowsPerTrigger`, delivers them. Latency
  * runs from the scheduled send to the moment the micro-batch that
  * delivered the message has collected it. A backlog
  * drain follows on the same checkpoint: throughput is the rate at which
  * the restarted consumer's micro-batches deliver the backlog.
  *
  * Each window uses a fresh topic, so every window does the same work
  * and the topic ages (gains ledgers) in the same way within it. */
final class PubSub(seed: Long) extends Workload {
  import PubSub._

  /** Set-up is short, so more repetitions steady its median. */
  val setups = 7

  private var root: Path = _
  private var payloads: Array[String] = _
  private var windows = 0
  private var lastTexts: Seq[String] = Nil

  /** Set-up: session (made by the caller), the seeded payload pool, and
    * topic provisioning — a first seeded history produced into a topic
    * and drained once by a consumer, the round trip every window repeats. */
  def setup(spark: SparkSession, dir: Path): Unit = {
    root = Files.createDirectories(dir.resolve("topics"))
    payloads = Trace.span("bench", "gen_payloads") {
      val r = new SplittableRandom(seed)
      Array.fill(PayloadPool) {
        val sb = new StringBuilder
        while (sb.length < PayloadChars) sb.append(Gen.word(r)).append(' ')
        sb.result().take(PayloadChars)
      }
    }
    window(spark, 0.0, History)
    ()
  }

  def warmup(spark: SparkSession): Unit = { window(spark, WarmupS, History); () }

  def run(spark: SparkSession, seconds: Double): Window =
    window(spark, seconds, Backlog)

  /** One window on a fresh topic: an open-loop phase of `openS` seconds
    * with the consumer running, then a drain of `backlog` messages
    * produced while the consumer is stopped. */
  private def window(spark: SparkSession, openS: Double, backlog: Int): Window = {
    windows += 1
    val topic = root.resolve(s"t$windows").toString
    val ckpt = root.resolve(s"c$windows").toString
    val st = new State(seed * 1000003L + windows)
    val clock = new Clock
    val w0 = System.nanoTime()

    if (openS > 0) {
      val q = startConsumer(spark, topic, ckpt, st, clock)
      val gen = new Thread(() => st.openLoop(spark, topic, clock, openS, payloads))
      gen.setName("graftbench-generator")
      gen.start()
      gen.join()
      st.awaitDelivered(DeliverTimeoutS)
      q.stop()
    }

    // backlog drain on the same checkpoint
    st.produceBacklog(spark, topic, clock, backlog, payloads)
    val q = startConsumer(spark, topic, ckpt, st, clock)
    st.awaitDelivered(DeliverTimeoutS)
    q.stop()

    val ledgers = MsgLogSource.ledgerFiles(topic).size
    val missing = st.produced - st.delivered.cardinality()
    val failed = missing + st.duplicates
    lastTexts = (0 until 2000).map(i => payloads(i % payloads.length))
    Window(
      items = st.delivered.cardinality().toLong,
      wallS = Util.secondsSince(w0),
      itemsPerS = st.drainRate,
      latMs = st.latMs.toSeq,
      recall = st.delivered.cardinality().toDouble / math.max(1L, st.produced),
      attempted = st.produced,
      failed = failed,
      layer = Engine.streamingMetrics(st.progress.toSeq) ++ Map(
        "produce_ms.p50" -> Util.quantile(st.produceMs.toSeq, 0.5),
        "produce_ms.p90" -> Util.quantile(st.produceMs.toSeq, 0.9),
        "produce_mb_s" -> st.producedBytes / 1e6 / st.produceTotalS,
        "ledgers" -> ledgers.toDouble,
        "backlog_max_rows" -> st.backlogMax.toDouble,
        "gen_late_ms_p90" -> Util.quantile(st.lateMs.toSeq, 0.9)))
  }

  /** The consumer: micro-batches back to back (a new one starts as soon
    * as the last one ends and new messages are listed), each capped at
    * `maxRowsPerTrigger`. A traced micro-batch is a `streaming` span
    * (recorded from its progress event) whose children are the source
    * read and the benchmark's delivery bookkeeping. */
  private def startConsumer(spark: SparkSession, topic: String, ckpt: String,
      st: State, clock: Clock) =
    spark.readStream.format("graft-msglog")
      .option("maxRowsPerTrigger", MaxRowsPerTrigger.toString)
      .load(topic)
      .select(col("event_id"), unix_micros(col("event_time")).as("et"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Trace.under(Engine.microBatchSpan(spark, batchId)) {
          val rows = Trace.span("sources", "read_batch", batchId)(batch.collect())
          Trace.span("bench", "deliver", batchId)(
            st.deliver(batchId, rows.map(r => (r.getLong(0), r.getLong(1))), clock.nowUs))
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .start()

  /** Exactly-once delivery is checked inside every window (see [[State]]). */
  def check(spark: SparkSession): (Long, Long) = (0L, 0L)

  def probes(spark: SparkSession): Map[String, Double] = {
    val frames = lastTexts.zipWithIndex.map { case (t, i) => message(i.toLong, 0L, t) }
    Probes.codec(frames) ++
      Probes.kernels(spark, lastTexts, Gen.vectors(seed, 4000), seed) ++
      Probes.decode(spark, spark.createDataFrame(java.util.Arrays.asList(
        Gen.docRows(Gen.docs(seed, 400)): _*), Gen.DocSchema))
  }
}

object PubSub {
  /** Offered rate of the open loop, messages per second: under a fifth of
    * the backlog-drain rate measured at local[4]. At 5000 msg/s the open
    * loop's latency ran away whenever the host was contended. */
  val Rate = 2000.0
  val PayloadChars = 1000
  val PayloadPool = 512
  /** Messages packed per wire frame by the producer. */
  val FrameBatch = 64
  val MaxRowsPerTrigger = 4000
  /** Messages produced ahead of the drain phase. */
  val Backlog = 100000
  /** Messages produced into the topic at set-up and in the warm-up. */
  val History = 4000
  val WarmupS = 2.0
  /** The generator writes whatever is due at most this often. */
  val TickMs = 50L
  val DeliverTimeoutS = 60.0

  val WriteSchema: StructType = StructType.fromDDL(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, " +
      "props STRING, producer_name STRING, sequence_id BIGINT, event_time TIMESTAMP")

  def message(id: Long, schedUs: Long, payload: String): MsgFrame =
    MsgFrame(id, schedUs, id % 97, "msg", id.toDouble, payload,
      producerName = "graftbench", sequenceId = id, eventTimeUs = schedUs)

  /** Epoch-µs clock anchored once, advanced by the monotonic timer. */
  final class Clock {
    private val baseUs = System.currentTimeMillis() * 1000L
    private val baseNs = System.nanoTime()
    def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
  }

  /** Producer and delivery bookkeeping of one window. */
  final class State(seed: Long) {
    @volatile var produced = 0L
    var producedBytes = 0L
    val produceMs = ArrayBuffer.empty[Double]
    val lateMs = ArrayBuffer.empty[Double]
    val latMs = ArrayBuffer.empty[Double]
    val delivered = new java.util.BitSet()
    var duplicates = 0L
    /** Largest produced-but-undelivered count seen in the open loop. */
    var backlogMax = 0L
    /** First id produced by the drain phase (its latencies are not counted). */
    @volatile var backlogFrom = Long.MaxValue
    val progress = ArrayBuffer.empty[Engine.Progress]
    private val rng = new SplittableRandom(seed)
    private val mark = Engine.progress.size

    /** Micro-batches seen, by batch id. A batch replayed after a restart
      * carries its old id (foreachBatch is at-least-once, keyed by batch
      * id), so a batch-id-keyed sink applies it once: the replay must hold
      * exactly the original batch and is not delivered again. */
    private val batches = scala.collection.mutable.Map.empty[Long, (Int, Long)]
    /** (end time, rows) of each drain-phase micro-batch. */
    val drainBatches = ArrayBuffer.empty[(Long, Int)]

    /** Steady drain rate: the median over drain micro-batches after the
      * first of rows ÷ time since the previous batch ended. Consumer
      * restart and first-batch start-up are left out, and one batch
      * stalled by a GC pause does not move the figure. */
    def drainRate: Double = synchronized {
      val b = drainBatches.toSeq
      Util.median(b.zip(b.drop(1)).map { case ((t0, _), (t1, n)) => n / ((t1 - t0) / 1e9) })
    }

    def deliver(batchId: Long, rows: Array[(Long, Long)], endUs: Long): Unit = synchronized {
      val digest = (rows.length, rows.map(_._1 * 0x9E3779B97F4A7C15L).sum)
      batches.get(batchId) match {
        case Some(d) =>
          // a replay must carry exactly the batch it replays
          if (d != digest) duplicates += rows.length
        case None =>
          batches(batchId) = digest
          rows.foreach { case (id, et) =>
            if (delivered.get(id.toInt)) duplicates += 1 else delivered.set(id.toInt)
            if (id < backlogFrom) latMs += (endUs - et) / 1000.0
          }
          if (backlogFrom != Long.MaxValue) drainBatches += (System.nanoTime() -> rows.length)
      }
      if (backlogFrom == Long.MaxValue)
        backlogMax = math.max(backlogMax, produced - delivered.cardinality())
      notifyAll()
    }

    def awaitDelivered(timeoutS: Double): Unit = synchronized {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (delivered.cardinality() < produced && System.nanoTime() < deadline)
        wait(50L)
      progress.clear()
      progress ++= Engine.progressSince(mark)
    }

    var produceTotalS = 0.0

    /** Produce ids `[from, until)` in one write; returns its wall in ms. */
    private def write(spark: SparkSession, topic: String, from: Long, until: Long,
        schedUs: Long => Long, payloads: Array[String]): Double = {
      val rows = (from until until).map { id =>
        val p = payloads(rng.nextInt(payloads.length))
        producedBytes += p.length
        val ts = new java.sql.Timestamp(schedUs(id) / 1000L)
        Row(id, ts, id % 97, "msg", id.toDouble, p, "graftbench", id, ts)
      }
      val t0 = System.nanoTime()
      Trace.span("sources", "produce", from) {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), WriteSchema)
          .coalesce(1)
          .write.format("graft-msglog")
          .option("batchSize", FrameBatch.toString)
          .option("compression", "lz4")
          .mode("append").save(topic)
      }
      val s = Util.secondsSince(t0)
      produceTotalS += s
      produced = until
      s * 1e3
    }

    /** Produce on schedule for `openS` seconds: message `i` is due at
      * `start + i / Rate`; each tick writes everything that is due. */
    def openLoop(spark: SparkSession, topic: String, clock: Clock, openS: Double,
        payloads: Array[String]): Unit = {
      val startUs = clock.nowUs
      val endUs = startUs + (openS * 1e6).toLong
      val sched = (id: Long) => startUs + (id * 1e6 / Rate).toLong
      var next = 0L
      while (clock.nowUs < endUs) {
        val now = clock.nowUs
        val due = math.min(((now - startUs) * Rate / 1e6).toLong + 1,
          ((endUs - startUs) * Rate / 1e6).toLong)
        if (due > next) {
          (next until due).foreach(id => lateMs += (now - sched(id)) / 1000.0)
          produceMs += write(spark, topic, next, due, sched, payloads)
          next = due
        }
        val sleepMs = TickMs - (clock.nowUs - now) / 1000L
        if (sleepMs > 0) Thread.sleep(sleepMs)
      }
    }

    /** Produce `n` messages at once (in 4 writes) for the drain phase. */
    def produceBacklog(spark: SparkSession, topic: String, clock: Clock, n: Int,
        payloads: Array[String]): Unit = {
      backlogFrom = produced
      val from = produced
      val step = math.max(1, n / 4)
      (from until from + n by step).foreach { a =>
        val now = clock.nowUs
        write(spark, topic, a, math.min(from + n, a + step), _ => now, payloads)
      }
    }
  }
}
