package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

/** One recorded span: a call from the benchmark into one layer of the
  * program. `item` is the request, round or micro-batch id the call
  * served; `jobs`/`tasks` are the Spark listener counts that completed
  * while the span was open (concurrent spans on other threads share them). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    item: Long, startNs: Long, endNs: Long, jobs: Long, tasks: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Off by default: the end-to-end run measures
  * with it off, the traced run turns it on. Spans nest per thread (the
  * parent is the innermost open span of the calling thread), are kept in
  * memory and written once when the run ends. */
object Trace {
  @volatile var enabled = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[Int] { override def initialValue(): Int = -1 }

  def span[T](layer: String, name: String, item: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get()
      open.set(id)
      val j0 = Engine.jobs.get(); val t0 = Engine.tasks.get()
      val s0 = System.nanoTime()
      try body
      finally {
        val s1 = System.nanoTime()
        open.set(parent)
        spans.add(Span(id, parent, layer, name, item, s0, s1,
          Engine.jobs.get() - j0, Engine.tasks.get() - t0))
      }
    }

  /** A span id taken ahead of its span, for a span whose interval is
    * only known once it has ended (see [[record]]). */
  def reserve(): Int = ids.incrementAndGet()

  /** Run `body` with `parent` as the calling thread's open span, so the
    * spans it opens become children of a span recorded later. */
  def under[T](parent: Int)(body: => T): T =
    if (!enabled) body
    else {
      val prev = open.get()
      open.set(parent)
      try body finally open.set(prev)
    }

  /** Record an already-ended span under a reserved id. */
  def record(id: Int, layer: String, name: String, item: Long,
      startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(id, -1, layer, name, item, startNs, endNs, 0L, 0L))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in seconds over spans that started in
    * `[fromNs, untilNs)`: a span's duration minus the time its child
    * spans cover (children of one span run inside it and never overlap
    * each other). A span recorded from millisecond timestamps can end a
    * little before its last child, so self time is floored at 0. */
  def selfSeconds(fromNs: Long, untilNs: Long): Map[String, Double] = {
    val ss = all.filter(s => s.startNs >= fromNs && s.startNs < untilNs)
    val childNs = ss.filter(_.parent >= 0).groupMapReduce(_.parent)(_.durNs)(_ + _)
    ss.groupMapReduce(_.layer)(s => math.max(0L, s.durNs - childNs.getOrElse(s.id, 0L)))(_ + _)
      .map { case (l, ns) => l -> ns / 1e9 }
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.toSeq.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "item" -> s.item, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "jobs" -> s.jobs, "tasks" -> s.tasks)))
    }
    sb.append("\n]\n")
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  /** An object whose keys keep their given order. */
  final case class RawObj(kv: Seq[(String, Any)])

  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case RawObj(kv) => obj(kv)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

/** Engine counters fed by Spark's public listeners: the scheduler's job,
  * stage and task events, Catalyst's per-query phase timings and the
  * streaming engine's per-batch progress. Counters only grow; callers
  * diff two [[Engine.Snapshot]]s around the window they measure. */
object Engine {
  val jobs = new AtomicLong(); val stages = new AtomicLong(); val tasks = new AtomicLong()
  val taskMs = new AtomicLong(); val shuffleBytes = new AtomicLong()
  val scanBytes = new AtomicLong()
  val analysisMs = new AtomicLong(); val optimizationMs = new AtomicLong()
  val planningMs = new AtomicLong(); val queries = new AtomicLong()

  /** Streaming progress: one record per completed micro-batch. */
  final case class Progress(rows: Long, durations: Map[String, Long])
  val progress = new ConcurrentLinkedQueue[Progress]()

  /** Span ids reserved for micro-batches whose `foreachBatch` body ran
    * traced, by (query id, batch id); the batch's span is recorded when
    * its progress event reports the trigger's start and duration. */
  private val microBatches =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Integer]()

  /** Span id of the running micro-batch `batchId`, to call from its
    * `foreachBatch` body (on the query's own thread, where Spark keeps
    * the query id as a local property). */
  def microBatchSpan(spark: org.apache.spark.sql.SparkSession, batchId: Long): Int =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .filter(_ => Trace.enabled)
      .fold(-1) { q =>
        val id = Trace.reserve()
        microBatches.put((q, batchId), id)
        id
      }

  def progressSince(mark: Int): Seq[Progress] = progress.asScala.drop(mark).toSeq

  /** Micro-batch count, size and mean `durationMs` phases. */
  def streamingMetrics(ps: Seq[Progress]): Map[String, Double] = {
    def phase(k: String) = {
      val xs = ps.flatMap(_.durations.get(k)).map(_.toDouble)
      if (xs.isEmpty) 0.0 else xs.sum / xs.length
    }
    Map("batches" -> ps.size.toDouble,
      "rows_per_batch" -> (if (ps.isEmpty) 0.0 else ps.map(_.rows).sum.toDouble / ps.size),
      "offset_plan_ms" -> phase("latestOffset"), "add_batch_ms" -> phase("addBatch"),
      "wal_commit_ms" -> phase("walCommit"), "commit_offsets_ms" -> phase("commitOffsets"),
      "query_planning_ms" -> phase("queryPlanning"))
  }

  final case class Snapshot(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
      shuffleBytes: Long, scanBytes: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, gcMs: Long, cpuNs: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, taskMs - o.taskMs, shuffleBytes - o.shuffleBytes,
      scanBytes - o.scanBytes, analysisMs - o.analysisMs,
      optimizationMs - o.optimizationMs, planningMs - o.planningMs,
      gcMs - o.gcMs, cpuNs - o.cpuNs)
  }

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def cpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def snapshot(): Snapshot = Snapshot(jobs.get, stages.get, tasks.get, taskMs.get,
    shuffleBytes.get, scanBytes.get, analysisMs.get, optimizationMs.get,
    planningMs.get, gcMs, cpuNs)

  /** Snapshot once the listener bus has caught up: events arrive
    * asynchronously, so wait (at most 5 s) until the job, task and query
    * counts have not moved for 300 ms. */
  def settledSnapshot(): Snapshot = {
    val quietNs = 300L * 1000000L
    val deadline = System.nanoTime() + 5000L * 1000000L
    var last = tasks.get() + jobs.get() + queries.get()
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline && System.nanoTime() - quietSince < quietNs) {
      Thread.sleep(25)
      val cur = tasks.get() + jobs.get() + queries.get()
      if (cur != last) { last = cur; quietSince = System.nanoTime() }
    }
    snapshot()
  }

  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.scheduler._
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          scanBytes.addAndGet(m.inputMetrics.bytesRead)
        }
        ()
      }
    })
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
          val ph = qe.tracker.phases
          def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
          analysisMs.addAndGet(ms("analysis"))
          optimizationMs.addAndGet(ms("optimization"))
          planningMs.addAndGet(ms("planning"))
          queries.incrementAndGet()
          ()
        }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        progress.add(Progress(p.numInputRows, d))
        Option(microBatches.remove((p.id.toString, p.batchId))).foreach { id =>
          // the trigger's start is a wall-clock timestamp: place it on
          // the monotonic clock the other spans use
          val agoMs = System.currentTimeMillis() -
            java.time.Instant.parse(p.timestamp).toEpochMilli
          val s0 = System.nanoTime() - agoMs * 1000000L
          Trace.record(id, "streaming", "micro_batch", p.batchId,
            s0, s0 + d.getOrElse("triggerExecution", 0L) * 1000000L)
        }
        ()
      }
    })
  }
}
