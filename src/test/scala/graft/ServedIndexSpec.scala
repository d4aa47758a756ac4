package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.operators.SimilarityOps

/** The served ANN read path: how many Spark jobs one indexed read runs,
  * and that every change to the served corpus — base appends, overlay
  * epochs, folds, drops, registrations — shows on the very next read,
  * row-equal to the unindexed IVF serve over the live corpus. Runs on a
  * private corpus so no overlay state reaches other suites. */
class ServedIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val Dim = 64
  private val Corpus = 300
  private val rng = new scala.util.Random(17)
  private def gaussian(): Seq[Float] = Seq.fill(Dim)(rng.nextGaussian().toFloat)
  private val base: Map[Long, Seq[Float]] =
    (0 until Corpus).map(i => i.toLong -> gaussian()).toMap

  /** The corpus as ONE parquet file, the fixture shape: a table that is
    * a single file has its schema cached (a directory's is re-inferred
    * by a job per read). */
  private lazy val sf: String = {
    val dir = Files.createTempDirectory("graft_served_corpus_")
    graft.util.TempDirs.track(dir)
    val tmp = dir.resolve("tmp")
    base.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve("embeddings.parquet"))
    dir.toString
  }

  private def segRoot(): Path = {
    val r = Files.createTempDirectory("graft_served_overlay_")
    graft.util.TempDirs.track(r)
    r
  }

  /** Index rows for `vecs`, in the exact shape a live segment epoch holds. */
  private def segmentRows(vecs: Seq[(Long, Seq[Float])]): DataFrame =
    SimilarityOps.indexRows(vecs.toDF("vec_id", "embedding"),
      SimilarityOps.stagedCentroidIndex(spark, sf),
      SimilarityOps.stagedPqCodebook(spark, sf))
      .withColumn("deleted", org.apache.spark.sql.functions.lit(false))

  private def writeEpoch(root: Path, epoch: Long, rows: DataFrame): Unit =
    rows.write.mode("overwrite").partitionBy("cell").parquet(s"$root/epoch=$epoch")

  private def tombstones(ids: Seq[Long]): DataFrame =
    SimilarityOps.tombstoneSegmentRows(spark, sf, ids.toDF("vec_id"))

  /** Spark jobs started by `body` on this thread (broadcast threads
    * inherit the tag), counted once the listener bus goes quiet. */
  private def jobsOf(body: => Unit): Int = {
    val tag = s"served-${System.nanoTime()}"
    val n = new AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.tag") == tag))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty("graft.spec.tag", tag)
    try {
      body
      var last = -1
      var stable = 0
      while (stable < 6) {
        Thread.sleep(50)
        val cur = n.get()
        if (cur == last) stable += 1 else { last = cur; stable = 0 }
      }
      last
    } finally {
      spark.sparkContext.setLocalProperty("graft.spec.tag", null)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def np: Int = SimilarityOps.defaultNumProbe(SimilarityOps.stagedDeclaredC(spark, sf))

  private def pairs(rows: Seq[Row]): Seq[(Long, Double)] =
    rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cosine")))

  /** The unindexed IVF top-k over `live`, under the staged centroids. */
  private def exact(live: Map[Long, Seq[Float]], q: Long): Seq[(Long, Double)] =
    pairs(SimilarityOps.embeddingIvfTopK(live.toSeq.toDF("vec_id", "embedding"), q, 10,
      Some(SimilarityOps.stagedCentroids(spark, sf)), np).collect().toSeq)

  private val queries = Seq(0L, 1L, 2L)

  /** Single and batched indexed reads both equal the unindexed serve. */
  private def assertServes(live: Map[Long, Seq[Float]], step: String): Unit = {
    val batch = SimilarityOps.embeddingBatchTopK(spark, sf, queries, 10).collect().toSeq
      .groupBy(_.getAs[Long]("qid"))
    queries.foreach { q =>
      val want = exact(live, q)
      assert(want.nonEmpty, s"$step: query $q")
      assert(pairs(SimilarityOps.embeddingIvfTopKIndexed(spark, sf, q, 10).collect().toSeq)
        === want, s"$step: single read, query $q")
      assert(pairs(batch.getOrElse(q, Nil).sortBy(_.getAs[Int]("rnk"))) === want,
        s"$step: batched read, query $q")
    }
  }

  /** A vector just off `q`'s, so it ranks at the top of `q`'s answer. */
  private def near(q: Long, eps: Float): Seq[Float] =
    base(q).zipWithIndex.map { case (x, i) => if (i == 0) x + eps else x }

  test("an indexed read with an overlay registered runs at most 2 jobs, a batch at most 3") {
    def ivf(q: Long) = SimilarityOps.embeddingIvfTopKIndexed(spark, sf, q, 10).collect()
    def pq(q: Long) = SimilarityOps.ivfPqTopKIndexed(spark, sf, q, 10).collect()
    def batch(qs: Seq[Long]) = SimilarityOps.embeddingBatchTopK(spark, sf, qs, 10).collect()
    // stages what every read shares: the index, its geometry, its schema
    ivf(0L)
    val root = segRoot()
    writeEpoch(root, 0, tombstones(Seq(5L, 6L, 7L)))
    SimilarityOps.registerIndexSegments(spark, sf, root.toString)
    try {
      // the first read after a registration also reads the overlay's
      // view: its merged schema, then its ids, one job each
      assert(jobsOf(ivf(1L)) <= 4)
      pq(0L); batch(Seq(0L, 1L))
      assert(jobsOf(ivf(3L)) <= 2)
      assert(jobsOf(pq(4L)) <= 2)
      assert(jobsOf(batch(Seq(8L, 9L, 10L))) <= 3)
    } finally SimilarityOps.dropIndexSegments(sf)
  }

  test("a single-query read compiles no code of its own for a new query id") {
    // the query id and vector enter the plan as reference literals, so
    // every query's read generates the same code: once each kind has
    // run, another query's read is served from the compiled-code cache
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def compiledBy(df: DataFrame): Long = {
      val before = compiles.getCount
      df.collect()
      compiles.getCount - before
    }
    compiledBy(SimilarityOps.embeddingIvfTopKIndexed(spark, sf, 0L, 10))
    compiledBy(SimilarityOps.ivfPqTopKIndexed(spark, sf, 0L, 10))
    assert(compiledBy(SimilarityOps.embeddingIvfTopKIndexed(spark, sf, 11L, 10)) === 0)
    assert(compiledBy(SimilarityOps.ivfPqTopKIndexed(spark, sf, 12L, 10)) === 0)
  }

  test("every change to the served corpus is visible to the very next read") {
    SimilarityOps.stagedIvfIndexDir(spark, sf)
    // the fold below records overlay gauges into the JVM-wide registry;
    // the ones it creates are removed again, as other specs assert its
    // ANN key set
    val foldGauges = Seq("ann.segment_folds", "ann.segment_epochs")
      .filterNot(ObservedMetrics.gaugeSnapshot.contains)
    var live = base
    assertServes(live, "base")
    val root = segRoot()
    try {
      // takedown: tombstone each query's current top-3
      val gone = queries.flatMap(q => exact(live, q).take(3).map(_._1)).distinct
      writeEpoch(root, 0, tombstones(gone))
      SimilarityOps.registerIndexSegments(spark, sf, root.toString)
      live --= gone
      assertServes(live, "takedown")

      // append into the staged base
      val appended = Seq(1000L -> near(0L, 0.01f), 1001L -> near(1L, 0.01f))
      SimilarityOps.appendToStagedIvfIndex(spark, sf, appended.toDF("vec_id", "embedding"))
      live ++= appended
      assertServes(live, "append")

      // a new live epoch, counted into the registration
      val ingested = Seq(2000L -> near(0L, 0.02f), 2001L -> near(2L, 0.02f))
      writeEpoch(root, 1, segmentRows(ingested))
      assert(SimilarityOps.noteSegmentAppend(sf, root.toString, 2L, epochId = 1L))
      live ++= ingested
      assertServes(live, "epoch + noteSegmentAppend")

      // an epoch that lands with no manifest update at all
      writeEpoch(root, 2, tombstones(Seq(2001L)))
      live -= 2001L
      assertServes(live, "epoch without a manifest update")

      // fold the three epochs: same rows, new files
      assert(SimilarityOps.maybeCompactIndexSegments(spark, sf, root.toString, maxEpochs = 2))
      assertServes(live, "fold")

      // drop the registration: tombstoned ids serve again, segments go
      SimilarityOps.dropIndexSegments(sf, root.toString)
      live = base ++ appended
      assertServes(live, "drop")

      // a registration known only to the manifest (a restarted JVM)
      val other = segRoot()
      val ingested2 = Seq(3000L -> near(1L, 0.03f))
      writeEpoch(other, 0, segmentRows(ingested2))
      SimilarityOps.registerIndexSegments(spark, sf, other.toString)
      SimilarityOps.forgetSegmentRegistrations()
      live ++= ingested2
      assertServes(live, "manifest-only registration")
      SimilarityOps.dropIndexSegments(sf)

      // an overlay above the cap keeps the broadcast anti-joins
      val big = segRoot()
      val far = (0 until SimilarityOps.MaxOverlayIds).map(i => 100000L + i)
      writeEpoch(big, 0, tombstones(gone ++ far))
      SimilarityOps.registerIndexSegments(spark, sf, big.toString)
      live = base ++ appended -- gone
      assertServes(live, "overlay above the cap")
      val p = SimilarityOps.embeddingIvfTopKIndexed(spark, sf, 0L, 10)
        .queryExecution.executedPlan.toString
      assert("(?s)BroadcastHashJoin.*?LeftAnti".r.findAllIn(p).size >= 2, p)
    } finally {
      SimilarityOps.dropIndexSegments(sf)
      ObservedMetrics.dropGauges(foldGauges)
    }
  }

  test("the driver probe keeps the engine probe's answers for missing and repeated ids") {
    SimilarityOps.stagedIvfIndexDir(spark, sf)
    assert(SimilarityOps.embeddingIvfTopKIndexed(spark, sf, -7L, 10).collect().isEmpty)
    assert(SimilarityOps.ivfPqTopKIndexed(spark, sf, -7L, 10).collect().isEmpty)
    assert(SimilarityOps.ivfPqTopKRefinedIndexed(spark, sf, -7L, 10).collect().isEmpty)
    def canonRows(df: DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rnk"),
        r.getAs[Long]("vec_id"))).sorted.toSeq
    assert(canonRows(SimilarityOps.embeddingBatchTopK(spark, sf, Seq(4L, 4L, -7L), 10))
      === canonRows(SimilarityOps.embeddingBatchTopK(spark, sf, Seq(4L), 10)))
    assert(canonRows(SimilarityOps.embeddingBatchTopKRefined(spark, sf, Seq(4L, 4L, -7L), 10))
      === canonRows(SimilarityOps.embeddingBatchTopKRefined(spark, sf, Seq(4L), 10)))
  }

  test("the driver probe ranks cells as the engine's sorted centroid scan does") {
    // the replaced probe, kept here as the reference: centroids × query,
    // ordered by (rounded cosine desc, cent_id), limited to np
    val cents = SimilarityOps.stagedCentroidIndex(spark, sf)
    val ids = cents.map(_._1).toArray
    val flat = cents.flatMap(_._2).toArray
    def engine(qe: Seq[java.lang.Float], n: Int): Seq[Long] =
      cents.toDF("cent_id", "ce")
        .crossJoin(Seq(Tuple1(qe)).toDF("qe"))
        .select(col("cent_id"),
          graft.operators.VectorMath.cosine(col("ce"), col("qe")).as("ccos"))
        .orderBy(col("ccos").desc, col("cent_id")).limit(n)
        .collect().map(_.getLong(0)).toSeq
    def driver(qe: Seq[java.lang.Float], n: Int): Seq[Long] =
      graft.functions.IvfKernels.probeCells(
        if (qe == null) null
        else new org.apache.spark.sql.catalyst.util.GenericArrayData(qe.toArray[Any]),
        ids, flat, isFloat = true, n)
    def boxed(v: Seq[Float]): Seq[java.lang.Float] = v.map(Float.box)
    val vectors: Seq[Seq[java.lang.Float]] =
      base.toSeq.sortBy(_._1).take(20).map(v => boxed(v._2)) ++ Seq(
        boxed(Seq.fill(Dim)(0f)), // 0/0: NaN cosine everywhere
        boxed(Seq.fill(Dim)(Float.NaN)),
        boxed(cents.head._2.map(_.toFloat)), // a centroid itself
        boxed(Seq.fill(Dim - 1)(1f)), // dimension mismatch: null cosines
        boxed(base(0L)).updated(3, null), // null element: null cosines
        null)
    vectors.foreach(v => Seq(1, np, ids.length + 2).foreach(n =>
      assert(driver(v, n) === engine(v, n), s"np=$n vector=$v")))
  }

  test("an append that widens a column's type drops the cached staged schema") {
    val dir = Files.createTempDirectory("graft_staged_widen_")
    graft.util.TempDirs.track(dir)
    Seq((1, 10, 0L)).toDF("id", "v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir.toString)
    def cached = graft.util.StagedArtifacts.cachedSchema(dir)
    graft.util.StagedArtifacts.readStaged(spark, dir)
    assert(cached.isDefined)
    // the same data types keep it: non-nullable columns against the
    // read's nullable ones, and a LONG partition value against the INT
    // the directory names infer
    graft.util.StagedArtifacts.append(dir, Seq((2, 20, 1L)).toDF("id", "v", "p"), "p")
    assert(cached.isDefined)
    // a widened data column drops it; the next read re-infers
    graft.util.StagedArtifacts.append(dir, Seq((3, 30L, 2L)).toDF("id", "v", "p"), "p")
    assert(cached.isEmpty)
    graft.util.StagedArtifacts.readStaged(spark, dir)
    assert(cached.isDefined)
  }
}
