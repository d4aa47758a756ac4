package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one measured window of a workload produced. `layer` carries the
  * workload's own per-layer figures, collected in every window (so a
  * traced and an untraced window do the same work). */
final case class Window(items: Long, wallS: Double, itemsPerS: Double,
    latMs: Seq[Double], recall: Double, attempted: Long, failed: Long,
    layer: Map[String, Double])

trait Workload {
  /** Cold set-ups per end-to-end run; their median is `setup_s`. */
  def setups: Int
  /** Generate the seeded inputs under `dir` and stage what the program
    * needs before it can serve them. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** Untimed pass that loads classes and compiles the hot paths. */
  def warmup(spark: SparkSession): Unit
  def run(spark: SparkSession, seconds: Double): Window
  /** Post-window correctness checks: (attempted, failed). */
  def check(spark: SparkSession): (Long, Long)
  /** Layer probes over the workload's own rows (traced run only). */
  def probes(spark: SparkSession): Map[String, Double]
}

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload pubsub|serve --seed N --seconds S --trace 0|1
  *      --master local[K] --run-dir DIR --out FILE [--baseline 1]
  * }}}
  *
  * `--trace 0` sets up several times (each cold: fresh corpus dir, fresh
  * `java.io.tmpdir` roots for staged indexes and serving registrations,
  * fresh Spark session), reports the median set-up time, then measures
  * one window of S seconds with tracing off and prints the end-to-end
  * metrics. `--trace 1` sets up once, measures a traced window of S
  * seconds between two untraced windows of S/2 seconds, runs the layer
  * probes and prints the per-layer metrics; spans go to
  * `<run-dir>/spans.json`.
  * `--baseline 1` sets up once and reports only the untraced throughput
  * of an S/2-second window (the local[1] side of `parallel_speedup`). */
object Main {

  /** The layers the measured window's spans name: `pubsub` spans
    * `sources`, `streaming` and `bench`, `serve` spans `operators`,
    * `engine` and `bench`. (`functions`, `multimodal` and `util` run only
    * in set-up and the probes, outside the window.) */
  val Layers: Seq[String] = Seq("sources", "streaming", "operators", "engine", "bench")

  /** Per-layer metrics and their units, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "produce_ms.p50" -> "ms", "produce_ms.p90" -> "ms", "produce_mb_s" -> "MB/s",
    "codec_encode_mb_s" -> "MB/s", "codec_decode_mb_s" -> "MB/s",
    "ledgers" -> "count", "offset_plan_ms" -> "ms",
    "batches" -> "count", "rows_per_batch" -> "rows", "add_batch_ms" -> "ms",
    "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms",
    "query_planning_ms" -> "ms", "backlog_max_rows" -> "rows",
    "topk_ms.ivf" -> "ms", "topk_ms.pq" -> "ms", "topk_ms.batch" -> "ms",
    "takedown_ms" -> "ms", "append_ms" -> "ms", "stale_fraction" -> "ratio",
    "minhash_bands_ns" -> "ns", "word_shingles_ns" -> "ns",
    "jaccard_distinct_ns" -> "ns", "cosine_sim_ns" -> "ns", "pq_enc_ns" -> "ns",
    "crc32c_ns" -> "ns", "decode_us_per_asset" -> "us",
    "stage_s" -> "s", "staged_bytes" -> "bytes", "epoch_dirs" -> "count",
    "jobs_per_item" -> "count", "stages_per_item" -> "count",
    "tasks_per_item" -> "count", "task_s_per_item" -> "s", "busy_share" -> "ratio",
    "analysis_ms" -> "ms", "optimization_ms" -> "ms", "planning_ms" -> "ms",
    "shuffle_bytes" -> "bytes", "scan_bytes" -> "bytes", "gc_ms" -> "ms",
    "parallel_speedup" -> "x",
    "gen_late_ms_p90" -> "ms", "trace_overhead_pct" -> "%") ++
    Layers.map(l => s"span_share.$l" -> "ratio")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "lat_p50_ms" -> "ms",
    "lat_p90_ms" -> "ms", "success_rate" -> "ratio", "answer_recall" -> "ratio",
    "cpu_ms_per_item" -> "ms", "heap_retained_mb" -> "MB")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      master: String, runDir: Path, out: Path, baseline: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.getOrElse("master", "local[4]"),
      Paths.get(need("run-dir")), Paths.get(need("out")), m.get("baseline").contains("1"))
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "pubsub" => new PubSub(seed)
    case "serve" => new Serve(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def session(master: String): SparkSession = {
    val cores = master.stripPrefix("local[").stripSuffix("]")
    val s = graft.GraftSession.builder(master, cores).appName("graftbench").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Engine.install(s)
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = try run(a) catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(3)
    }
    Files.write(a.out, result.getBytes("UTF-8"))
    sys.exit(0)
  }

  private val started = System.nanoTime()

  /** Phase marks on stderr, so a run's log shows where its time went. */
  private def mark(what: String): Unit =
    System.err.println(f"[graftbench] ${Util.secondsSince(started)}%7.2fs $what")

  private def run(a: Args): String = {
    Trace.enabled = a.trace
    var spark: SparkSession = null
    var w = workload(a.workload, a.seed)
    val reps = if (a.trace || a.baseline) 1 else w.setups
    val setupS = (0 until reps).map { i =>
      if (spark != null) stop(spark)
      // every set-up is cold: staged indexes and serving registrations
      // resolve under java.io.tmpdir, so each one gets fresh roots
      val dir = Files.createDirectories(a.runDir.resolve(s"setup$i"))
      System.setProperty("java.io.tmpdir",
        Files.createDirectories(dir.resolve("tmp")).toString)
      val t0 = System.nanoTime()
      spark = Trace.span("bench", "session_start")(session(a.master))
      w = workload(a.workload, a.seed)
      w.setup(spark, dir)
      mark(s"set-up $i done")
      Util.secondsSince(t0)
    }
    val cores = spark.sparkContext.defaultParallelism
    Trace.enabled = false
    w.warmup(spark)
    mark("warm-up done")

    if (a.baseline) {
      val win = w.run(spark, a.seconds / 2)
      stop(spark)
      return Json.obj(Seq("items_per_s" -> win.itemsPerS))
    }

    // the traced run brackets its traced window with two untraced
    // half-windows, so warm-up drift does not read as tracing overhead
    val untracedBefore = if (a.trace) Some(w.run(spark, a.seconds / 2)) else None
    Trace.enabled = a.trace
    val before = Engine.settledSnapshot()
    val t0 = System.nanoTime()
    val win = w.run(spark, a.seconds)
    val t1 = System.nanoTime()
    val after = Engine.settledSnapshot()
    mark("window done")
    val shares = Trace.selfSeconds(t0, t1)
    Trace.enabled = false
    val untracedWins = untracedBefore.toSeq.flatMap(u => Seq(u, w.run(spark, a.seconds / 2)))
    val untraced = if (a.trace) Some(untracedWins.map(_.itemsPerS).sum / 2) else None
    Trace.enabled = a.trace
    val probes = if (a.trace) w.probes(spark) else Map.empty[String, Double]
    Trace.enabled = false
    val (checkAttempted, checkFailed) = w.check(spark)
    mark("checks done")
    val attempted = (win +: untracedWins).map(_.attempted).sum + checkAttempted
    val failed = (win +: untracedWins).map(_.failed).sum + checkFailed

    val d = after - before
    val items = math.max(1L, win.items).toDouble
    val metrics: Seq[(String, Double)] =
      if (!a.trace) {
        val lat = win.latMs
        // retained = the least heap in use over three forced collections
        val heapMb = (1 to 3).map { _ =>
          System.gc(); Thread.sleep(100)
          java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
        }.min
        Seq(
          "setup_s" -> Util.median(setupS),
          "items_per_s" -> win.itemsPerS,
          "lat_p50_ms" -> Util.quantile(lat, 0.5),
          "lat_p90_ms" -> Util.quantile(lat, 0.9),
          "success_rate" -> (1.0 - failed.toDouble / math.max(1L, attempted)),
          "answer_recall" -> win.recall,
          "cpu_ms_per_item" -> d.cpuNs / 1e6 / items,
          "heap_retained_mb" -> heapMb)
      } else {
        val tmp = a.runDir.resolve("setup0").resolve("tmp")
        val overhead = untraced.map(u => (u / win.itemsPerS - 1.0) * 100.0).getOrElse(0.0)
        val common = Map(
          "jobs_per_item" -> d.jobs / items, "stages_per_item" -> d.stages / items,
          "tasks_per_item" -> d.tasks / items, "task_s_per_item" -> d.taskMs / 1e3 / items,
          "busy_share" -> d.taskMs / 1e3 / (win.wallS * cores),
          "analysis_ms" -> d.analysisMs / items,
          "optimization_ms" -> d.optimizationMs / items,
          "planning_ms" -> d.planningMs / items,
          "shuffle_bytes" -> d.shuffleBytes / items, "scan_bytes" -> d.scanBytes / items,
          "gc_ms" -> d.gcMs.toDouble,
          "stage_s" -> Trace.all.filter(s => s.layer == "util" && s.name.startsWith("stage"))
            .map(_.durNs / 1e9).sum,
          "staged_bytes" -> Util.treeBytes(tmp.resolve("graft_staged")).toDouble,
          "epoch_dirs" -> Util.countDirs(a.runDir, _.startsWith("epoch=")).toDouble,
          "trace_overhead_pct" -> overhead,
          "parallel_speedup" -> 0.0) ++
          Layers.map(l => s"span_share.$l" -> shares.getOrElse(l, 0.0) / ((t1 - t0) / 1e9))
        val all = common ++ win.layer ++ probes
        Trace.write(a.runDir.resolve("spans.json"))
        PerLayer.map { case (n, _) => n -> all.getOrElse(n, 0.0) }
      }
    stop(spark)
    val units = (EndToEnd ++ PerLayer).toMap
    Json.obj(Seq(
      "correct" -> (failed == 0L),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.RawObj(metrics.map { case (n, v) =>
        n -> Json.RawObj(Seq("value" -> v, "unit" -> units(n))) })) ++
      untraced.map(u => "untraced_items_per_s" -> u))
  }
}
