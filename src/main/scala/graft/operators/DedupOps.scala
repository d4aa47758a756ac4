package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Fixtures

/** Near-duplicate detection family beyond the exact-normalized dedup in
  * [[LlmOps.docNearDedup]]: MinHash+LSH banding, SimHash fingerprints, and
  * exact n-gram Jaccard verification — the standard toolbox for dedup of
  * LLM training corpora at scale.
  *
  * Portability discipline: every hash is md5-derived (identical in DuckDB),
  * integer/bit arithmetic only, no engine-native hash functions
  * (SURVEY §7.3).
  *
  * 100 TB shape: each op is shuffle-keyed on a signature (never all-pairs);
  * candidate generation via band/bucket equality joins whose keys are
  * uniformly distributed hashes (no skew); exact verification only runs on
  * the candidate set. Every candidate bucket is CAPPED at
  * [[DedupOps.MaxBucketMembers]] members before pair enumeration
  * ([[DedupOps.groupMembers]]) — web-scale corpora contain mega-clusters
  * of thousands of identical boilerplate documents, and without the cap
  * one such bucket turns quadratic. The cap is part of the operator
  * contract, mirrored in every DuckDB oracle (`row_number ≤ cap`), and
  * the dropped-row count is surfaced as an observed metric.
  */
object DedupOps {

  /** Word 3-shingles over a pre-split token array column `w`, distinct.
    * Operating on `w` (not re-splitting `text` inside the lambda) matters:
    * Catalyst's project-collapse would otherwise inline the split into
    * every lambda element — an O(tokens²) regex blow-up per document.
    */
  private[graft] val SHINGLES =
    """array_distinct(transform(
         sequence(1, greatest(size(w) - 2, 0)),
         i -> array_join(slice(w, i, 3), ' ')))"""

  /** The 3-shingle set of the token column `w`, as the fused native
    * [[graft.functions.WordShingles]] expression (one codegen'd loop —
    * the composable [[SHINGLES]] form is an interpreted `transform`
    * chain per row, kept as the numerics reference; bit-identical,
    * equivalence asserted in tests). Registers on the DataFrame's
    * session like every other native kernel.
    */
  private def shinglesOf(docs: DataFrame): Column = {
    graft.GraftSession.registerFunctions(docs.sparkSession)
    call_function("word_shingles", col("w"), lit(3))
  }

  /** Tokenized docs with the split materialized as a named alias, which
    * downstream shingle lambdas reference instead of re-splitting.
    * CollapseProject refuses to inline a non-cheap alias referenced more
    * than once (SPARK-36718), so the alias alone — no exchange barrier —
    * guarantees one regex split per row.
    */
  private def tokenized(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(lower(col("text"))), "\\s+").as("w"))
      .filter(size(col("w")) >= 3)

  val NumSeeds = 8
  val RowsPerBand = 2 // 4 bands × 2 rows

  // ---------------------------------------------------------------------
  // Staged text-signature artifacts (once per corpus snapshot)
  // ---------------------------------------------------------------------

  private val textSigDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")
  private val dupGroupDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")
  private val contamDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")
  private val xmodalGroupDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")
  private val xmodalBaseDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")

  /** How many times a staged text artifact actually BUILT — staging
    * observability for tests (the `mediaHashBuilds` sibling). */
  val textStageBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  def dropStagedTextArtifacts(): Unit = {
    textSigDirs.clear(); dupGroupDirs.clear(); contamDirs.clear()
    xmodalGroupDirs.clear(); xmodalBaseDirs.clear(); incrEdgeDirs.clear()
    xmDocIdxDirs.clear(); xmClusterIdxDirs.clear(); probeGramDirs.clear()
  }

  private def stagedParquet(spark: SparkSession, sfDir: String,
      memo: graft.util.StampedMemo[java.nio.file.Path],
      build: => DataFrame): DataFrame =
    graft.util.StagedArtifacts.parquet(spark, sfDir, memo,
      "graft_text_idx_", textStageBuilds)(build)

  /** The per-document text signature index staged to parquet once per
    * corpus SNAPSHOT — the text analog of the staged media fingerprints
    * ([[graft.multimodal.MultimodalOps.stagedImageHashes]]) and the
    * staged IVF index: tokenization, MinHash banding, and shingling are
    * an INDEX BUILD, not query work. One corpus scan produces
    * `(doc_id, bands, sh, tsig)` — the 4 band signatures
    * (4 × 16 bytes), the distinct 3-shingle set, and the
    * distinct-token-set md5 — and every text dup query (LSH candidates,
    * Jaccard verify, n-gram grouping, incremental dedup, cross-modal
    * reconciliation) reads these columns instead of re-tokenizing the
    * corpus. At 100 TB the shingle column is the costly one (∝ token
    * count); production would store 8-byte shingle fingerprints instead
    * of the strings — kept as strings here because the DuckDB oracle
    * verifies the exact string-set Jaccard. Stamped like every staged
    * artifact: an in-place corpus rewrite re-derives. */
  def stagedTextSignatures(spark: SparkSession, sfDir: String): DataFrame =
    stagedParquet(spark, sfDir, textSigDirs,
      textSignaturesOf(Fixtures.documents(spark, sfDir)))

  /** The per-doc signature projection over ANY documents frame — the
    * build body of [[stagedTextSignatures]] and the in-batch signature
    * derivation of the streaming ingestion dedup (each arriving doc is
    * signed exactly as the index build signs the corpus, so increment
    * and base rows are comparable by construction). */
  private[graft] def textSignaturesOf(docs: DataFrame): DataFrame = {
    graft.functions.MinhashBands.register(docs.sparkSession)
    tokenized(docs).select(
      col("doc_id"),
      call_function("minhash_bands",
        col("w"), lit(NumSeeds), lit(RowsPerBand)).as("bands"),
      shinglesOf(docs).as("sh"),
      md5(array_join(sort_array(array_distinct(col("w"))), " ")
        .cast("binary")).as("tsig"))
  }

  /** [[docDupGroups]] staged to parquet once per corpus snapshot — the
    * "dup-cluster stage recomputed on its own cadence" that
    * [[LlmOps.docFilterPipeline]]'s scale note prescribes: the CC
    * fixpoint runs at staging, and every consumer (the cluster query
    * itself, quality-aware canonical election, the filter pipeline)
    * reads `(doc_id, cluster, is_canonical, cluster_size)` scalars. */
  def stagedDupGroups(spark: SparkSession, sfDir: String): DataFrame =
    stagedParquet(spark, sfDir, dupGroupDirs,
      clusterPairs(stagedLshVerifiedDups(spark, sfDir)
          .select(col("doc_a"), col("doc_b")))
        .withColumnRenamed("id", "doc_id"))

  /** [[docDecontaminate]] staged to parquet once per corpus snapshot —
    * the contamination stage of the same prescription: benchmark-overlap
    * membership changes when the corpus or the benchmark suite does,
    * never per query. */
  def stagedContamination(spark: SparkSession, sfDir: String): DataFrame =
    stagedParquet(spark, sfDir, contamDirs,
      docDecontaminate(Fixtures.documents(spark, sfDir)))

  /** Enumerate unordered member pairs of a sorted array column, mapping
    * each (earlier, later) pair through `pair` —
    * `flatten(transform(m, (a, i) -> transform(slice(m, i+2, ...), b -> pair(a, b))))`.
    * Group-then-enumerate replaces a self-join: the pipeline is computed
    * once, the bucket is the shuffle key, and pair count is bounded by
    * bucket size (capped by [[groupMembers]]). Shared by the MinHash,
    * Jaccard, SimHash, and embedding-LSH candidate generators.
    */
  private[operators] def memberPairs(members: Column, pair: (Column, Column) => Column): Column =
    flatten(transform(members, (a, i) =>
      transform(slice(members, i + 2, size(members)), b => pair(a, b))))

  /** Bucket-size cap for every candidate generator. Web corpora contain
    * mega-clusters (thousands of byte-identical boilerplate docs sharing
    * every band/block/bucket); uncapped, one such group enumerates
    * O(cluster²) pairs and its collect_list row grows without bound. 512
    * keeps the fixture buckets untouched (max observed 269 at sf0.1)
    * while bounding any group at C(512,2) pairs; the cap is operator
    * semantics, mirrored in the oracles as `row_number() ≤ cap`.
    */
  val MaxBucketMembers = 512

  /** The shared capped group-then-enumerate front half: rank members
    * within each bucket (`row_number` over `order`, a window on the same
    * shuffle key the aggregation needs — one exchange total), DROP
    * members ranked past [[MaxBucketMembers]] — counting them into the
    * observed metric `<metric>.overflow_rows` so truncation is never
    * silent — then collect the survivors into a sorted `m` array for
    * [[memberPairs]]. The cap binds BEFORE the collect: a mega-cluster
    * costs a bounded array, not an unbounded in-row collect followed by
    * a slice.
    */
  private[operators] def groupMembers(
      df: DataFrame, keys: Seq[Column], member: Column, order: Column,
      metric: String): DataFrame = {
    val buckets = capBuckets(df, keys, order, metric)
      .groupBy(keys: _*)
      .agg(array_sort(collect_list(member)).as("m"))
      .filter(size(col("m")) > 1)
    // EXPLODE-AWARE SPREAD (opt r19, guide §2.5): every consumer
    // explodes `m` into O(|m|²) candidate pairs, but AQE sizes the
    // post-aggregate stage by the AGGREGATE's bytes — one compact row
    // per bucket — so it coalesced the enumeration onto 1-2 tasks
    // (measured: the whole img_dups banding+explode ran as one 1.2 s
    // near-serial stage at sf0.1 while 7 cores idled). A round-robin
    // repartition of the bucket rows (one row each, trivially cheap to
    // shuffle) spreads the quadratic explode; the explicit partition
    // count keeps AQE from re-coalescing on the same under-estimate.
    // Pure row spreading — every downstream aggregate/distinct is
    // partitioning-agnostic, so results are unchanged.
    buckets.repartition(explodeSpread(df))
  }

  /** Partition count for [[groupMembers]]' explode spread — SCALE-AWARE
    * (r19 verdict #2): a count pinned to the session's parallelism
    * defeats AQE's under-coalescing at fixture scale but would cap a
    * billion-bucket corpus at one wave of #cores partitions, each
    * streaming an O(|m|²)-amplified explode through a single task. The
    * count therefore grows with the PRE-aggregate input's optimizer
    * size estimate (free: the analyzed plan is already built, and its
    * stats visitor runs driver-side — no job), with the session
    * parallelism as the floor (so fixture-scale plans keep the exact
    * r19 shape) and a cap bounding scheduler pressure. Bytes-per-task
    * is pre-explode: the cap on bucket size ([[MaxBucketMembers]])
    * bounds the amplification a task's slice can suffer. */
  private[graft] def explodeSpread(df: DataFrame): Int = {
    val floor = df.sparkSession.sparkContext.defaultParallelism
    val bytes =
      try df.queryExecution.analyzed.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(0) }
    val target = bytes / SpreadBytesPerTask
    math.max(floor,
      target.min(BigInt(MaxSpreadPartitions)).toInt)
  }

  /** Pre-aggregate input bytes per explode-spread task (8 MiB): small
    * enough that a worst-case fully-capped bucket slice's quadratic
    * output stays task-sized, large enough that the spread shuffle
    * stays a rounding error next to the enumeration it feeds. */
  private val SpreadBytesPerTask = BigInt(8L << 20)

  /** Upper bound on the spread's partition count — scheduler-pressure
    * guard for enormous estimates; 2^17 tasks is already far past any
    * single stage this engine schedules. */
  private val MaxSpreadPartitions = 1 << 17

  /** The shared bucket CAP itself: rank rows within each bucket by
    * `order`, DROP those past [[MaxBucketMembers]], count the dropped
    * into the observed metric `<metric>.overflow_rows` — truncation is
    * never silent. The ONE cap definition, used by every candidate
    * skeleton ([[groupMembers]]) and by the staged band-probe index
    * build ([[stagedBandProbeIndex]]), so a cap-discipline fix can
    * never half-apply. */
  private[operators] def capBuckets(df: DataFrame, keys: Seq[Column],
      order: Column, metric: String): DataFrame = {
    graft.ObservedMetrics.install(df.sparkSession)
    val w = Window.partitionBy(keys: _*).orderBy(order)
    df.withColumn("rk", row_number().over(w))
      .observe(metric, sum(when(col("rk") > MaxBucketMembers, 1L).otherwise(0L))
        .as("overflow_rows"))
      .filter(col("rk") <= MaxBucketMembers)
      .drop("rk")
  }

  /** The oracle-side mirror of [[groupMembers]]'s cap: both sides of a
    * candidate self-join keep only members ranked ≤ cap within their
    * bucket. */
  private def duckCap(rankCol: String): String =
    s"$rankCol <= $MaxBucketMembers"

  /** MinHash + LSH banding: shingle → per-seed min-hash (min-wise over the
    * md5 order, seeded by prefixing the seed) → band signature (md5 of the
    * band's minhash pair) → candidate pairs within each band bucket.
    * Output: (doc_a, doc_b, n_bands) candidate pairs.
    *
    * Shingling, the 8 seeded minhashes, and the 4 band signatures are all
    * PER-DOCUMENT arithmetic, so they fuse into one native projection
    * ([[graft.functions.MinhashBands]], a codegen'd shingles × seeds MD5
    * loop). The first formulation exploded shingles × 8 seeds through two
    * aggregation exchanges before bucketing — a 100 TB corpus paid three
    * shuffles where the data demands one. Here the plan is scan →
    * project → posexplode(4 sigs) → band-bucket groupBy: the bucket
    * aggregation is the ONLY corpus-wide exchange (the pair-count groupBy
    * downstream shuffles candidates, not corpus).
    */
  def docMinhashLsh(docs: DataFrame): DataFrame = {
    graft.functions.MinhashBands.register(docs.sparkSession)
    minhashLshFromBands(tokenized(docs)
      .select(col("doc_id"),
        posexplode(call_function("minhash_bands",
          col("w"), lit(NumSeeds), lit(RowsPerBand))).as(Seq("band", "sig"))))
  }

  /** [[docMinhashLsh]] served from the staged signature index — band
    * signatures read as scalars, no tokenization in the query plan. */
  def stagedMinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashLshFromBands(stagedTextSignatures(spark, sfDir)
      .select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band", "sig"))))

  /** The bucket→pair half of [[docMinhashLsh]], over an already-derived
    * `(doc_id, band, sig)` frame — shared by the inline and staged
    * signature sources so a bucketing fix can never half-apply. */
  private def minhashLshFromBands(bands: DataFrame): DataFrame =
    groupMembers(bands, Seq(col("band"), col("sig")), col("doc_id"),
        col("doc_id"), "minhash_bucket_overflow")
      .select(explode(memberPairs(col("m"),
        (a, b) => struct(a.as("doc_a"), b.as("doc_b")))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))

  val SubstrWindow = 8 // tokens per window
  val SubstrModP = 4 // keep windows whose hash ≡ 0 (mod P): 1/4 sampling
  val SubstrMinShared = 2 // pairs must share ≥2 selected fingerprints

  /** Exact-substring duplicate candidates — the dedup modality MinHash
    * misses: two documents sharing one long VERBATIM passage (a quoted
    * article, boilerplate license text) at low overall Jaccard. Every
    * [[SubstrWindow]]-token window is hashed and windows whose hash ≡ 0
    * (mod [[SubstrModP]]) are kept (Manber's 0-mod-p anchor selection —
    * deterministic, position-independent, so any sufficiently long
    * shared run yields shared selections in BOTH documents); documents
    * sharing ≥ [[SubstrMinShared]] selected fingerprints are candidate
    * pairs, `n_windows` counting the shared selections (∝ shared
    * verbatim length).
    *
    * Scale: window hashing + selection fuse into one per-row codegen'd
    * loop ([[graft.functions.SubstrFps]]); the fingerprint-bucket
    * groupBy is the ONLY corpus-wide exchange and moves `tokens/modP`
    * rows, with [[groupMembers]]' bucket cap + observed overflow
    * bounding any boilerplate mega-cluster (a license text shared by
    * millions of docs) exactly like the other candidate generators.
    */
  def docSubstrDups(docs: DataFrame): DataFrame = {
    graft.functions.SubstrFps.register(docs.sparkSession)
    val fps = tokenized(docs)
      .filter(size(col("w")) >= SubstrWindow)
      .select(col("doc_id"),
        explode(call_function("substr_fps",
          col("w"), lit(SubstrWindow), lit(SubstrModP))).as("fp"))
    groupMembers(fps, Seq(col("fp")), col("doc_id"),
        col("doc_id"), "substr_fp_overflow")
      .select(explode(memberPairs(col("m"),
        (a, b) => struct(a.as("doc_a"), b.as("doc_b")))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_windows"))
      .filter(col("n_windows") >= SubstrMinShared)
  }

  /** The composable higher-order formulation of [[SubstrFps]] —
    * CodegenFallback (windows × a five-expression interpreted chain per
    * document), kept as the portability/numerics REFERENCE the fused
    * native expression must match string-for-string. Callers must
    * pre-filter `size(w) >= windowTokens` (Spark's `sequence(1, k)`
    * DESCENDS for k < 1). */
  private[graft] def docSubstrFpsHof(w: Column, windowTokens: Int, modP: Int): Column =
    array_distinct(filter(
      transform(sequence(lit(1), size(w) - (windowTokens - 1)),
        i => md5(concat_ws(" ", slice(w, i, lit(windowTokens))).cast("binary"))),
      h => conv(substring(h, 1, 15), 16, 10).cast("long") % modP === 0))

  /** SimHash: frequency-weighted 60-bit fingerprint. Each token hashes to
    * 60 bits (md5 prefix → integer); fingerprint bit j is the sign of the
    * ±1 vote sum over all tokens. Near-dups differ in few bits; at scale
    * candidates come from joining on fingerprint blocks (pigeonhole over
    * hamming distance) — this op emits the fingerprint itself.
    *
    * Computed entirely IN-ROW — zero shuffles, zero row blowup — and
    * natively: the token-hash + 60-bit vote fold runs as one codegen'd
    * loop ([[graft.functions.Simhash60]]). The composable higher-order
    * fold below ([[docSimhashHof]]) is the numerics reference the native
    * expression matches bit-for-bit (equivalence asserted in tests);
    * identical integer results, oracle unchanged.
    */
  def docSimhash(docs: DataFrame): DataFrame = {
    graft.functions.Simhash60.register(docs.sparkSession)
    docs
      .select(col("doc_id"),
        call_function("simhash60", split(trim(lower(col("text"))), "\\s+")).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** The composable higher-order formulation of [[docSimhash]] —
    * CodegenFallback (tokens × 60 interpreted lambda evaluations per
    * document), kept as the portability/numerics REFERENCE the fused
    * native expression must match bit-for-bit. */
  private[graft] def docSimhashHof(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr(
        """transform(
             filter(split(trim(lower(text)), '\\s+'), w -> w <> ''),
             w -> cast(conv(substring(md5(cast(w as binary)), 1, 15), 16, 10) as bigint))""")
        .as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), expr(
        """aggregate(
             zip_with(
               aggregate(hs, array_repeat(0L, 60),
                 (acc, h) -> zip_with(acc, sequence(0, 59),
                   (a, j) -> a + (shiftright(h, j) & 1) * 2 - 1)),
               sequence(0, 59),
               (v, j) -> if(v > 0, shiftleft(1L, j), 0L)),
             0L, (acc, x) -> acc + x)""").as("simhash"))

  val SimhashBlocks = 4 // 4 × 15-bit blocks over the 60-bit fingerprint
  val MaxHamming = 12

  /** SimHash candidate pairs via hamming-block banding: split each 60-bit
    * fingerprint into 4 × 15-bit blocks; pairs sharing at least one exact
    * block become candidates, verified exactly with `bit_count(xor)`
    * in-row and reported up to `MaxHamming`. Recall is GUARANTEED only up
    * to hamming ≤ blocks−1 = 3 (pigeonhole: 4 differing bits can land one
    * per block); above that, candidates are probabilistic — the same
    * approximate-recall contract as MinHash banding. Same
    * group-then-enumerate skeleton as the MinHash bands — one linear
    * pipeline, uniform bucket keys, no n².
    */
  def docSimhashPairs(docs: DataFrame): DataFrame = {
    val fp = docSimhash(docs)
    val blocks = fp.select(
      col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(SimhashBlocks - 1))).as("blk"))
      .select(
        col("doc_id"), col("simhash"), col("blk"),
        expr("shiftright(simhash, blk * 15) & 32767").as("blk_val"))
    def pairStruct(a: Column, b: Column): Column = struct(
      a.getField("doc_id").as("doc_a"),
      b.getField("doc_id").as("doc_b"),
      a.getField("simhash").bitwiseXOR(b.getField("simhash")).as("x"))
    groupMembers(blocks, Seq(col("blk"), col("blk_val")),
        struct(col("doc_id"), col("simhash")), col("doc_id"),
        "simhash_block_overflow")
      .select(explode(memberPairs(col("m"), pairStruct)).as("p"))
      .select(
        col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        expr("bit_count(p.x)").as("hamming"))
      // filter-then-distinct ≡ distinct-then-filter (hamming is a pair
      // function); thresholding first shrinks the dedup exchange to the
      // confirmed near-dups
      .filter(col("hamming") <= MaxHamming)
      .distinct() // a pair can share multiple blocks
  }

  /** Perceptual image-hash geometry: the 56-bit dHash
    * ([[graft.multimodal.MultimodalOps.imageDHash]]) splits into 8
    * blocks of 7 bits. With [[ImgMaxHamming]] = 7 < 8 blocks the banding
    * is pigeonhole-COMPLETE: any pair within the hamming threshold
    * agrees exactly on at least one block, so the bucketed join provably
    * finds every reported pair — no probabilistic recall caveat. */
  val ImgHashBlocks = 8
  val ImgMaxHamming = 7

  /** Image near-duplicate pairs by perceptual hash — the multimodal
    * member of the dedup family (round 11): dHash every stored image
    * through the real codec, then EXACTLY the [[docSimhashPairs]]
    * skeleton — per-block bucketing, [[MaxBucketMembers]]-capped member
    * groups with the overflow observed, in-group pair enumeration, full
    * 56-bit hamming verify. Scale shape inherited wholesale: candidate
    * cost ∝ bucket sizes (never all-pairs), one exchange on the block
    * keys, one Long per image shuffled — the raster bytes never leave
    * their scan task, and since round 13 they are decoded once per
    * corpus SNAPSHOT, not once per query: the query reads the staged
    * fingerprint index
    * ([[graft.multimodal.MultimodalOps.stagedImageHashes]]). */
  def imageDHashDups(spark: SparkSession, sfDir: String): DataFrame =
    excludeTombstoned(
      imageHashPairs(
        graft.multimodal.MultimodalOps.stagedImageHashes(spark, sfDir)),
      mediaTombstoneIds(spark, sfDir, ImageModality), "media_id",
      Seq("media_a", "media_b"))

  /** Audio near-duplicate pairs by acoustic energy fingerprint — the
    * audio member of the dedup family (text: simhash/minhash; image:
    * dHash): every stored WAV decodes through the real
    * `javax.sound.sampled` codec into a 56-bit sign-of-energy-delta
    * fingerprint ([[graft.multimodal.MultimodalOps.audioEnergyHash]]),
    * then EXACTLY the shared banded skeleton. Same scale shape: one
    * Long per clip crosses the exchange, buckets capped with overflow
    * observed, pigeonhole-complete at hamming ≤ 7 over 8 blocks;
    * fingerprints staged once per corpus snapshot
    * ([[graft.multimodal.MultimodalOps.stagedAudioHashes]]). */
  def audioHashDups(spark: SparkSession, sfDir: String): DataFrame =
    excludeTombstoned(
      imageHashPairs(
        graft.multimodal.MultimodalOps.stagedAudioHashes(spark, sfDir),
        "wav_hash_block_overflow"),
      mediaTombstoneIds(spark, sfDir, AudioModality), "media_id",
      Seq("media_a", "media_b"))

  /** Video near-duplicate pairs by temporal energy fingerprint — the
    * video member of the dedup family, completing the modality square
    * (text: simhash/minhash; image: dHash; audio: energy fingerprint):
    * every stored animated GIF decodes frame-by-frame through the real
    * `javax.imageio` codec into a 56-bit sign-of-frame-delta-energy
    * fingerprint ([[graft.multimodal.MultimodalOps.videoTemporalHash]]),
    * then EXACTLY the shared banded skeleton. Same scale shape: one
    * Long per clip crosses the exchange, buckets capped with overflow
    * observed, pigeonhole-complete at hamming ≤ 7 over 8 blocks;
    * fingerprints staged once per corpus snapshot
    * ([[graft.multimodal.MultimodalOps.stagedVideoHashes]]). */
  def videoHashDups(spark: SparkSession, sfDir: String): DataFrame =
    excludeTombstoned(
      imageHashPairs(
        graft.multimodal.MultimodalOps.stagedVideoHashes(spark, sfDir),
        "gif_hash_block_overflow"),
      mediaTombstoneIds(spark, sfDir, VideoModality), "media_id",
      Seq("media_a", "media_b"))

  /** Cross-modal duplicate reconciliation — the pipeline step AFTER
    * per-modality dedup: a page duplicated with a re-encoded hero image
    * is ONE duplicate, not two. Text dup pairs ([[docLshVerifiedDups]])
    * and media dup pairs from the full modality square (image dHash +
    * audio fingerprint + video temporal fingerprint), mapped to
    * document ids through a doc↔media LINK table, merge into one
    * undirected graph; [[clusterPairs]] closes it transitively and one
    * canonical per cross-modal group is elected by the quality signal
    * (the `keep_best` election — a partial-combinable `min_by`, never a
    * whole-cluster sort).
    *
    * Scale shape: every edge list is dup-density-bounded (each
    * generator is bucketed + capped), the link join ships one
    * (media_id, doc_id) scalar pair per asset, quality joins as one
    * double per doc — the plan moves only (id, cluster, quality)
    * scalars, no text and no rasters. The fixture link is NON-identity
    * (disjoint media ids; one or two owned assets per doc; orphan
    * assets with no link row stay inert —
    * [[graft.multimodal.MultimodalOps.mediaLink]]); production passes
    * any link table through the same join shape. */
  def crossModalKeepBest(spark: SparkSession, sfDir: String): DataFrame =
    keepBestElection(Fixtures.documents(spark, sfDir),
      stagedCrossModalGroups(spark, sfDir))

  /** The cross-modal duplicate CLUSTERS staged to parquet once per
    * corpus snapshot — the [[stagedDupGroups]] discipline applied to
    * the merged modality graph: the four pair generators and the CC
    * fixpoint run at staging, and the serving query
    * ([[crossModalKeepBest]]) is a quality-aware election over
    * `(doc_id, cluster, cluster_size)` scalars. Layering: each pipeline
    * stage stays exercised live by its own key family (pair generation
    * by the per-modality dup keys, election by the xmodal key) while
    * composite keys read their upstream stages staged — exactly how an
    * ingestion pipeline runs these stages on their own cadence. */
  def stagedCrossModalGroups(spark: SparkSession, sfDir: String): DataFrame =
    stagedParquet(spark, sfDir, xmodalGroupDirs, {
      val docs = Fixtures.documents(spark, sfDir)
      crossModalGroupsOf(
        stagedLshVerifiedDups(spark, sfDir).select(col("doc_a"), col("doc_b")),
        Seq(
          imageDHashDups(spark, sfDir).select(col("media_a"), col("media_b")),
          audioHashDups(spark, sfDir).select(col("media_a"), col("media_b")),
          videoHashDups(spark, sfDir).select(col("media_a"), col("media_b"))),
        // the fixture's NON-IDENTITY link: disjoint media ids, docs
        // owning one or two assets, orphan assets absent (their pairs
        // drop at this join) — production passes any (media_id, doc_id)
        // table through the same join shape
        graft.multimodal.MultimodalOps.mediaLink(docs))
    })

  /** The merged cross-modal clustering over an ARBITRARY doc↔media link
    * — the build body of [[stagedCrossModalGroups]], factored so
    * production link shapes are exercisable (spec-locked): `link` is
    * `(media_id, doc_id)`, one row per owned asset. Docs may own many
    * assets (a media pair reaches the doc through EITHER); an asset
    * with no link row is an orphan and its pairs contribute no edge
    * (they drop at the inner join); a doc owning BOTH sides of a pair
    * yields a self-loop, dropped — two near-dup assets inside one
    * document are not a document-level duplicate. Each media pair ships
    * one (media_id, doc_id) scalar row per side through the link join;
    * the edge union dedups BEFORE the fixpoint (the modality graphs
    * overlap heavily — a doc pair duplicated in text AND image AND
    * audio AND video is one edge, not four, and every CC round joins
    * against the full edge list). */
  private[graft] def crossModalGroupsOf(textPairs: DataFrame,
      mediaPairs: Seq[DataFrame], link: DataFrame): DataFrame =
    clusterPairs(crossModalEdgesOf(textPairs, mediaPairs, link))
      .withColumnRenamed("id", "doc_id")

  /** The linked, deduped doc-pair EDGE list of the merged cross-modal
    * graph — [[crossModalGroupsOf]] without the closure, factored so the
    * base-only staging ([[stagedBaseCrossModalGroups]]) and the
    * streaming reconciliation's from-scratch spec oracle can filter the
    * edges before closing. Edges are CANONICALIZED (doc_a < doc_b)
    * before the distinct: generators orient pairs differently (batch:
    * a<b; gates: new-first), and without the canonical form one
    * undirected duplicate found by two generators survives as two
    * rows — doubling the closure's edge input and breaking
    * edge-list comparisons. */
  private[graft] def crossModalEdgesOf(textPairs: DataFrame,
      mediaPairs: Seq[DataFrame], link: DataFrame): DataFrame = {
    val l = link.toDF("media_id", "ld")
    def viaLink(pairs: DataFrame): DataFrame =
      pairs.toDF("ma", "mb")
        .join(l.select(col("media_id").as("ma"), col("ld").as("doc_a")), "ma")
        .join(l.select(col("media_id").as("mb"), col("ld").as("doc_b")), "mb")
        .select(col("doc_a"), col("doc_b"))
        .filter(col("doc_a") =!= col("doc_b"))
    (textPairs.toDF("doc_a", "doc_b") +: mediaPairs.map(viaLink))
      .reduce(_ union _)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
  }

  /** The BASE-ONLY cross-modal clusters staged once per corpus snapshot
    * — the prior assignment the STREAMING reconciliation (`stream_xm`)
    * folds admitted increments into: the same merged modality graph as
    * [[stagedCrossModalGroups]], closed over only the edges whose BOTH
    * endpoints are base (non-increment) docs. The increment's edges
    * arrive later through the modality gates (cross pairs only — a
    * new×new duplicate belongs to the increment's own batch dedup, the
    * `incr_dedup` discipline lifted to the cluster layer), so base ∪
    * gate edges is exactly "every edge except new×new" and the merged
    * serving view equals the from-scratch closure over that set
    * ([[mergeClusterIncrement]]'s property). The base filter applies on
    * the LINKED doc ids, after the link join — base-ness is a document
    * property, whatever the media link shape. */
  def stagedBaseCrossModalGroups(spark: SparkSession, sfDir: String): DataFrame =
    stagedParquet(spark, sfDir, xmodalBaseDirs, {
      val docs = Fixtures.documents(spark, sfDir)
      val edges = crossModalEdgesOf(
        stagedLshVerifiedDups(spark, sfDir).select(col("doc_a"), col("doc_b")),
        Seq(
          imageDHashDups(spark, sfDir).select(col("media_a"), col("media_b")),
          audioHashDups(spark, sfDir).select(col("media_a"), col("media_b")),
          videoHashDups(spark, sfDir).select(col("media_a"), col("media_b"))),
        graft.multimodal.MultimodalOps.mediaLink(docs))
      clusterPairs(
          edges.filter(!isNewId(col("doc_a")) && !isNewId(col("doc_b"))))
        .withColumnRenamed("id", "doc_id")
    })

  /** Partition count of the cluster-keyed probe projection
    * ([[xmClusterIdxDir]]) — an index constant like [[DocBucketParts]],
    * so the per-batch distinct-partition collect is bounded by it,
    * never by data. */
  val XmClusterParts = 64

  private val xmDocIdxDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")
  private val xmClusterIdxDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")

  /** The base assignment KEYED FOR PRUNED ENDPOINT LOOKUP: the
    * [[stagedBaseCrossModalGroups]] rows, partitioned by the md5-bucket
    * of `doc_id` (`db`, [[DocBucketParts]] — the [[stagedShingleIndex]]
    * key discipline), so the touched-selection reads only the
    * partitions holding a batch's new-edge endpoints instead of
    * scanning the corpus assignment per micro-batch. A PROBE projection
    * separate from the base artifact itself on purpose: the base stays
    * a compact full-view read for the election and the overlay serve
    * (full-view consumers pay the partition-dir listing tax on every
    * evaluation otherwise — measured ~2× on the serving keys at the
    * fixture), while pruned readers get their keyed copy — exactly as
    * the text side stages band- and shingle-keyed projections of one
    * signature set. Rows are repartitioned on the key before the write
    * so each partition dir holds one file, not one per task. */
  private[graft] def xmDocIdxDir(spark: SparkSession,
      sfDir: String): java.nio.file.Path =
    graft.util.StagedArtifacts.tempDir(sfDir, xmDocIdxDirs,
      "graft_text_idx_", textStageBuilds, partitionCols = Seq("db")) {
      stagedBaseCrossModalGroups(spark, sfDir)
        .withColumn("db",
          Hashing.md5Bucket(col("doc_id"), DocBucketParts).cast("int"))
        .repartition(col("db"))
    }

  /** The base assignment RE-KEYED for cluster-pruned MEMBER EXPANSION:
    * the same rows, partitioned by the md5-bucket of `cluster` (`cb`,
    * [[XmClusterParts]]). Touched-cluster expansion needs "every row
    * whose CLUSTER is in a bounded set" — the doc-keyed layout cannot
    * prune that, hence the second probe keying ([[xmDocIdxDir]]'s
    * scaladoc). Both projections derive from the staged base (one extra
    * column + a key shuffle, no corpus work), per-JVM like every
    * derived artifact. */
  private[graft] def xmClusterIdxDir(spark: SparkSession,
      sfDir: String): java.nio.file.Path =
    graft.util.StagedArtifacts.tempDir(sfDir, xmClusterIdxDirs,
      "graft_text_idx_", textStageBuilds, partitionCols = Seq("cb")) {
      stagedBaseCrossModalGroups(spark, sfDir)
        .withColumn("cb",
          Hashing.md5Bucket(col("cluster"), XmClusterParts).cast("int"))
        .repartition(col("cb"))
    }

  /** The quality-aware canonical election over ANY cluster assignment
    * for this corpus — the serving tail of [[crossModalKeepBest]],
    * exposed for the streaming reconciliation key whose assignment is
    * the incrementally MERGED view, not the staged snapshot. */
  def crossModalKeepBestOver(spark: SparkSession, sfDir: String,
      groups: DataFrame): DataFrame =
    keepBestElection(Fixtures.documents(spark, sfDir), groups)

  private val incrEdgeDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")

  /** The increment's verified CROSS EDGES, linked to doc ids and staged
    * once per corpus snapshot — the EDGE TOPIC the streaming
    * reconciliation (`stream_xm`) consumes: in the production topology
    * the four ingestion gates PUBLISH their verified cross pairs (the
    * per-gate stream keys prove exactly that production, micro-batch by
    * micro-batch) and the reconciliation layer consumes the merged edge
    * stream — it never re-runs the gates. Built from the staged batch
    * forms (text: [[stagedIncrementalDedup]]'s cross pairs; media: the
    * cross slice of each modality's banded dedup over the staged
    * fingerprints — no decode, no probe), linked through
    * [[graft.multimodal.MultimodalOps.mediaLink]]. Row-equal to the
    * union of the four gates' streamed outputs whenever no bucket
    * overflows (the staged-probe cap nuance; spec-locked on the
    * fixture), and exactly the oracle's interleaved-ranked cross slice
    * ALWAYS — so `stream_xm`'s correctness never rests on the cap
    * premise. */
  def stagedIncrementCrossEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.StagedArtifacts.readStaged(spark,
      stagedIncrementCrossEdgesDir(spark, sfDir))

  private[graft] def stagedIncrementCrossEdgesDir(spark: SparkSession,
      sfDir: String): java.nio.file.Path =
    graft.util.StagedArtifacts.tempDir(sfDir, incrEdgeDirs,
      "graft_xm_edges_", textStageBuilds) {
      def crossOf(pairs: DataFrame): DataFrame = {
        def newSide(c: String) = isNewId(
          graft.multimodal.MultimodalOps.mediaSrcDoc(col(c)))
        pairs.filter(newSide("media_a") =!= newSide("media_b"))
          .select(col("media_a"), col("media_b"))
      }
      crossModalEdgesOf(
        stagedIncrementalDedup(spark, sfDir)
          .select(col("new_doc").as("doc_a"), col("base_doc").as("doc_b")),
        Seq(
          crossOf(imageDHashDups(spark, sfDir)),
          crossOf(audioHashDups(spark, sfDir)),
          crossOf(videoHashDups(spark, sfDir))),
        graft.multimodal.MultimodalOps.mediaLink(
          Fixtures.documents(spark, sfDir)))
    }

  /** The reconciliation core of [[crossModalKeepBest]], over
    * already-linked `(doc_a, doc_b)` pair frames from any set of
    * modality generators — factored so a single-modality edge (e.g. a
    * video-only duplicate) is injectable in tests. */
  private[graft] def crossModalKeepBestFrom(docs: DataFrame,
      pairSources: Seq[DataFrame]): DataFrame =
    keepBestElection(docs,
      clusterPairs(pairSources.reduce(_ union _).distinct())
        .withColumnRenamed("id", "doc_id"))

  /** The quality-aware canonical election over a cluster assignment —
    * the serving half of [[crossModalKeepBest]], shared by the staged
    * and inline group sources. Same shape as [[LlmOps.docKeepBest]]:
    * quality joins as one double per doc, the winner is the `min_by`
    * argmin evaluated as a window over the cluster — ONE evaluation of
    * the members subtree (opt r20; the PlanSpec guard documents the
    * skew trade this accepts). */
  private[graft] def keepBestElection(docs: DataFrame, groups: DataFrame): DataFrame = {
    val quality = TextOps.textQualityScore(docs)
      .select(col("doc_id"), col("quality"))
    val members = groups.select(col("doc_id"), col("cluster"), col("cluster_size"))
      .join(quality, Seq("doc_id"))
    // SINGLE-SCAN election (opt r20, guide §7.2 duplicated subtrees):
    // the former aggregate-then-rejoin shape carried `members` — the
    // quality kernel over the docs scan JOINED to the assignment, which
    // for the serving keys is the base ∪ overlay anti-join view — as
    // TWO plan branches, evaluating that whole subtree twice per serve.
    // The same min_by evaluated as a window over the cluster runs it
    // once: one exchange on `cluster`, identical winners (argmin over
    // the same tie-broken struct), identical columns.
    members
      .withColumn("keep_id",
        min_by(col("doc_id"), struct(negate(col("quality")), col("doc_id")))
          .over(Window.partitionBy("cluster")))
      .select(col("doc_id"), col("cluster"), col("cluster_size"), col("quality"),
        (col("doc_id") === col("keep_id")).cast("int").as("keep"))
  }

  /** The per-block projection of a `(media_id, dhash)` 56-bit
    * perceptual-hash frame: 8 blocks of 7 bits each, `(media_id, dhash,
    * blk, blk_val)` — the shared front half of [[imageHashPairs]]'s
    * banding and the media probe index's rows. */
  private def mediaBlocksOf(fp: DataFrame): DataFrame = fp.select(
    col("media_id"), col("dhash"),
    explode(sequence(lit(0), lit(ImgHashBlocks - 1))).as("blk"))
    .select(
      col("media_id"), col("dhash"), col("blk"),
      expr("shiftright(dhash, blk * 7) & 127").as("blk_val"))

  /** The banding/verify stage of [[imageDHashDups]] over any
    * `(media_id, dhash)` 56-bit perceptual-hash frame — shared by the
    * image (dHash) and audio (energy-fingerprint) dedup ops and the
    * seam the cap tests drive directly. */
  def imageHashPairs(fp: DataFrame,
      metric: String = "img_dhash_block_overflow"): DataFrame = {
    val blocks = mediaBlocksOf(fp)
    def pairStruct(a: Column, b: Column): Column = struct(
      a.getField("media_id").as("media_a"),
      b.getField("media_id").as("media_b"),
      a.getField("dhash").bitwiseXOR(b.getField("dhash")).as("x"))
    groupMembers(blocks, Seq(col("blk"), col("blk_val")),
        struct(col("media_id"), col("dhash")), col("media_id"),
        metric)
      .select(explode(memberPairs(col("m"), pairStruct)).as("p"))
      .select(
        col("p.media_a").as("media_a"), col("p.media_b").as("media_b"),
        expr("bit_count(p.x)").as("hamming"))
      // threshold BEFORE the dedup exchange: hamming is a function of
      // the pair, so filter-then-distinct ≡ distinct-then-filter — but
      // the distinct's shuffle input shrinks from every in-bucket
      // candidate to just the confirmed near-dups
      .filter(col("hamming") <= ImgMaxHamming)
      .distinct() // a pair can share multiple blocks
  }

  /** Exact n-gram Jaccard verification over candidate pairs (here: pairs
    * sharing the [[LlmOps.docNearDedup]] bag-of-words signature — the
    * verify stage that runs after any candidate generator). Jaccard is
    * computed per-pair on the distinct 3-shingle sets with array
    * intersection/union — all inside the row, no explode-join. An exact
    * integer ratio, so the double divides identically in every engine.
    */
  def docNgramJaccard(docs: DataFrame): DataFrame =
    ngramJaccardFromSignatures(tokenized(docs).select(
      col("doc_id"),
      md5(array_join(sort_array(array_distinct(col("w"))), " ")
        .cast("binary")).as("sig"),
      shinglesOf(docs).as("sh")))

  /** [[docNgramJaccard]] served from the staged signature index (the
    * `tsig` column is exactly its grouping signature). */
  def stagedNgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftSession.registerFunctions(spark)
    ngramJaccardFromSignatures(stagedTextSignatures(spark, sfDir)
      .select(col("doc_id"), col("tsig").as("sig"), col("sh")))
  }

  private def ngramJaccardFromSignatures(sig: DataFrame): DataFrame = {
    def pairStruct(a: Column, b: Column): Column = struct(
      a.getField("doc_id").as("doc_a"),
      b.getField("doc_id").as("doc_b"),
      // fused one-pass set Jaccard — the composable intersect/concat/
      // distinct chain allocates three arrays per pair and a capped
      // bucket enumerates up to ~131k pairs (equivalence-tested)
      call_function("jaccard_distinct", a.getField("sh"), b.getField("sh"))
        .as("jaccard"))
    groupMembers(sig, Seq(col("sig")),
        struct(col("doc_id"), col("sh")), col("doc_id"),
        "jaccard_sig_overflow")
      .select(explode(memberPairs(col("m"), pairStruct)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"), col("p.jaccard").as("jaccard"))
  }

  val JaccardThreshold = 0.5

  /** The complete near-dup pipeline in one query: MinHash/LSH candidate
    * generation → exact shingle-Jaccard verification → confirmed
    * duplicate pairs above the threshold. Candidates bound the exact
    * work (Jaccard runs only on pairs sharing a band, never all pairs);
    * the verify join brings each side's shingle set by doc_id — two
    * broadcast-able joins against the candidate list. Jaccard is an
    * exact integer ratio (unrounded: identical in every engine).
    *
    * The verify stage reads the corpus ONCE: each candidate pair explodes
    * into its two doc sides, the sides join the shingle sets in one
    * pass, and the pair regroups in a shuffle proportional to the
    * CANDIDATE count, not the corpus. (The first formulation joined
    * `shingles` twice — two full tokenize+shingle computations of every
    * document per run.) Jaccard is symmetric, so the collected side
    * order does not matter. At 100 TB you additionally persist/checkpoint
    * `candidates` between the stages — kept stateless here because the
    * driver contract re-runs each query cold.
    *
    * The candidate side is deliberately NOT broadcast-hinted: candidate
    * count is proportional to the corpus's duplicate DENSITY (web corpora
    * run 30-50% duplicates), so the "small" side is O(corpus) rows at
    * 100 TB — an unconditional broadcast is a driver/executor OOM waiting
    * for scale. A plain shuffle join on `doc_id` costs one exchange of
    * the candidate list either way; AQE may still elect a runtime
    * broadcast when the measured size is genuinely small.
    */
  def docLshVerifiedDups(docs: DataFrame): DataFrame =
    verifyPairsJaccard(docMinhashLsh(docs),
      tokenized(docs).select(col("doc_id"), shinglesOf(docs).as("sh")),
      "doc_a", "doc_b")

  /** [[docLshVerifiedDups]] served entirely from the staged signature
    * index ([[stagedTextSignatures]]): candidates from the staged band
    * signatures, the verify stage's shingle sets from the staged `sh`
    * column — no tokenization, no corpus text read, in the query plan. */
  def stagedLshVerifiedDups(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftSession.registerFunctions(spark)
    // takedown exclusion (r19): a retracted doc neither matches nor is
    // listed — pairs touching a tombstoned endpoint drop; no tombstones
    // (the gate's steady state) = the untouched plan
    excludeTombstoned(
      verifyPairsJaccard(stagedMinhashLsh(spark, sfDir),
        stagedTextSignatures(spark, sfDir).select(col("doc_id"), col("sh")),
        "doc_a", "doc_b"),
      textTombstoneIds(spark, sfDir), "doc_id", Seq("doc_a", "doc_b"))
  }

  /** The SHARED exact-Jaccard verify stage: candidate pairs `(aCol, bCol,
    * n_bands)` → pairs with their shingle-set Jaccard, thresholded.
    * `shingles` is the `(doc_id, sh)` shingle-set source — one inline
    * corpus read, or the staged signature index. One pass over it for
    * the shingle sets, shuffle ∝ candidates (each pair
    * explodes into its two doc sides, the sides join the shingle sets in
    * one pass, the pair regroups); Jaccard is symmetric, so the collected
    * side order is irrelevant. Used by [[docLshVerifiedDups]] and
    * [[docIncrementalDedup]] — one definition so a verify-discipline fix
    * can never half-apply.
    */
  private def verifyPairsJaccard(candidates: DataFrame, shingles: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val sides = candidates
      .select(struct(col(aCol), col(bCol), col("n_bands")).as("pair"))
      .select(col("pair"),
        explode(array(col(s"pair.$aCol"), col(s"pair.$bCol"))).as("doc_id"))
    sides.join(shingles, "doc_id")
      .groupBy("pair")
      .agg(collect_list(col("sh")).as("m"))
      .select(
        col(s"pair.$aCol").as(aCol), col(s"pair.$bCol").as(bCol),
        col("pair.n_bands").as("n_bands"),
        call_function("jaccard_distinct",
          element_at(col("m"), 1), element_at(col("m"), 2)).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** Increment share for [[docIncrementalDedup]]'s fixture wiring: docs
    * whose md5 bucket (of 1000) falls below this are the "new batch"
    * (~10%). Real callers pass their own increment predicate — ingestion
    * date, source partition, etc. */
  val IncrementPermille = 100

  /** md5-bucket increment membership of any id column — the shared
    * [[Hashing.md5Bucket]] discipline: stable across
    * runs/engines/re-shards. */
  private[graft] def isNewId(c: Column): Column =
    Hashing.md5Bucket(c, 1000) < IncrementPermille

  /** [[isNewId]] on `doc_id` — `private[graft]` so the streaming source
    * filter selects exactly the same increment. */
  private[graft] def isNewDoc: Column = isNewId(col("doc_id"))

  /** INCREMENTAL near-dedup — the production ingestion shape: dedupe a
    * new batch AGAINST the existing corpus without re-clustering
    * everything. Only cross pairs (one new doc × one base doc) are
    * candidates; new×new dedup belongs to the batch's own
    * [[docLshVerifiedDups]] run and base×base is already settled.
    * Output: (new_doc, base_doc, n_bands, jaccard) — the verified
    * duplicates an ingest job would drop (or link) before appending.
    *
    * Plan shape: identical skeleton to the full pipeline — fused in-row
    * band signatures, ONE corpus-wide bucket exchange, capped
    * enumeration — but pair explosion keeps only cross pairs, so the
    * verify stage is bounded by the increment's duplicate density, not
    * the corpus's. At 100 TB the base side's band signatures come from
    * the staged signature index (they are pure per-doc projections —
    * compute once, store 4 × 16 bytes/doc) — the contract key serves
    * through [[stagedIncrementalDedup]]; this inline form is the
    * no-index library path.
    */
  def docIncrementalDedup(docs: DataFrame): DataFrame = {
    graft.functions.MinhashBands.register(docs.sparkSession)
    incrementalFromSignatures(tokenized(docs).select(
      col("doc_id"),
      call_function("minhash_bands",
        col("w"), lit(NumSeeds), lit(RowsPerBand)).as("bands"),
      shinglesOf(docs).as("sh")))
  }

  /** [[docIncrementalDedup]] served from the staged signature index:
    * both sides' band signatures and the verify stage's shingle sets
    * read as staged scalars. */
  def stagedIncrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    graft.GraftSession.registerFunctions(spark)
    // takedown exclusion (r19): the [[stagedLshVerifiedDups]] stance —
    // a tombstoned doc is out of the ingest gate's verified dups on
    // both sides (it cannot be matched against, and a retracted
    // increment doc is not re-listed)
    excludeTombstoned(
      incrementalFromSignatures(stagedTextSignatures(spark, sfDir)),
      textTombstoneIds(spark, sfDir), "doc_id", Seq("new_doc", "base_doc"))
  }

  // ---------------------------------------------------------------------
  // Partition-prunable probe indexes (the streaming serve's base side)
  // ---------------------------------------------------------------------

  /** Partition count of [[stagedBandProbeIndex]] — a corpus-independent
    * index constant (like the IVF centroid count), so the per-batch
    * distinct-partition collect is bounded by it, never by data. */
  val SigPrefixParts = 64

  /** Partition count of [[stagedShingleIndex]] — same discipline. */
  val DocBucketParts = 64

  /** The band signature's partition key: first two hex chars → int mod
    * [[SigPrefixParts]]. Int (not long) so the value written into the
    * partition dir name round-trips through partition-type inference to
    * the SAME type the probe filter compares — a widening cast on the
    * partition attribute could silently defeat pruning. */
  private def sigPrefix(sig: Column): Column =
    (conv(substring(sig, 1, 2), 16, 10).cast("int") % SigPrefixParts)
      .cast("int")

  private val bandIdxDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")
  private val shingleIdxDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")

  /** Build counter for the two probe-index artifacts — separate from
    * [[textStageBuilds]] so each artifact family's staging-exactly-once
    * property is independently assertable. */
  val probeStageBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** The BASE side's banded candidate index, staged once per corpus
    * snapshot and PARTITIONED BY SIGNATURE PREFIX — the text analog of
    * the cell-partitioned IVF index: an arriving increment's band
    * signatures name the only `sp` partitions worth scanning, so the
    * per-batch candidate probe reads O(matched buckets), not the corpus.
    * Rows: `(band, sig, doc_id)` for base (non-increment) docs, each
    * bucket CAPPED at [[MaxBucketMembers]] at staging (rank by doc_id;
    * overflow counted into the observed metric `band_probe_index` —
    * the [[groupMembers]] truncation-is-never-silent discipline, so a
    * mega-bucket costs a bounded base side in every probe join). Cap
    * nuance vs the batch path: [[docIncrementalDedup]] ranks new+base
    * members interleaved; here the base ranks alone and arriving docs
    * are never capped — identical whenever buckets fit the cap (the
    * fixture: overflow 0), divergent only on overflow. Pruning honesty:
    * band signatures are hashes, so a batch of B docs probes
    * min(4B, [[SigPrefixParts]]) prefixes — strongest for the small
    * admission batches an ingest gate actually sees; a large batch
    * degrades gracefully to a full (still column-pruned, still
    * shuffle-free) scan of the 3-scalar index. */
  def stagedBandProbeIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.StagedArtifacts.readStaged(spark, bandIdxDir(spark, sfDir))

  private def bandIdxDir(spark: SparkSession, sfDir: String,
      fresh: Boolean = false): java.nio.file.Path =
    graft.util.StagedArtifacts.parquetDir(sfDir, bandIdxDirs,
      "band_idx", probeStageBuilds, Seq("sp"), freshGen = fresh) {
      val bands = stagedTextSignatures(spark, sfDir)
        .filter(!isNewDoc)
        .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "sig")))
      capBuckets(bands, Seq(col("band"), col("sig")), col("doc_id"),
          "band_probe_index")
        .select(col("band"), col("sig"), col("doc_id"),
          sigPrefix(col("sig")).as("sp"))
    }

  /** The BASE side's shingle sets keyed for PRUNED point-fetch, staged
    * once per corpus snapshot: `(doc_id, sh)` partitioned by the
    * md5-bucket of doc_id, so the verify stage reads only the partitions
    * holding candidate base docs — the shingle fetch is O(candidates),
    * not a corpus scan per micro-batch. */
  def stagedShingleIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.StagedArtifacts.readStaged(spark, shingleIdxDir(spark, sfDir))

  private def shingleIdxDir(spark: SparkSession, sfDir: String,
      fresh: Boolean = false): java.nio.file.Path =
    graft.util.StagedArtifacts.parquetDir(sfDir, shingleIdxDirs,
      "shingle_idx", probeStageBuilds, Seq("db"), freshGen = fresh) {
      stagedTextSignatures(spark, sfDir)
        .filter(!isNewDoc)
        .select(col("doc_id"), col("sh"),
          Hashing.md5Bucket(col("doc_id"), DocBucketParts).cast("int").as("db"))
    }

  /** TEST-ONLY isolation drop: retire the staged probe indexes (the
    * durable dirs themselves — so the next access rebuilds from the
    * corpus, the old per-JVM-temp-dir guarantee) and exactly their
    * append counters. Counter removal is scoped per staged dir — the
    * r14 `clearFamily` deleted every corpus's counters HOST-WIDE,
    * silently zeroing a second serving JVM's staleness bookkeeping
    * (ADVICE r14); dir deletion remains host-wide by design here, as
    * the explicit test-only entry point. */
  def dropStagedProbeIndexes(): Unit = {
    for (sf <- bandIdxDirs.keys; d <- bandIdxDirs.peek(sf))
      graft.util.ServingManifest.removeCounter(sf, TextAppendsFamily,
        TextTables, d.toString)
    bandIdxDirs.clear(); shingleIdxDirs.clear()
    graft.util.StagedArtifacts.dropDurable("band_idx")
    graft.util.StagedArtifacts.dropDurable("shingle_idx")
  }

  // ---------------------------------------------------------------------
  // Incremental probe-index maintenance (append → staleness → re-stage)
  // ---------------------------------------------------------------------

  /** Manifest family for the text append/staleness bookkeeping —
    * persisted per (corpus dir, band-index dir) in the
    * [[graft.util.ServingManifest]] sidecar so it survives JVM restarts
    * (r13 verdict #5); keyed by the index DIR the appends landed in, so
    * a freshly rebuilt index correctly reads zero. */
  private val TextAppendsFamily = "text_appends"
  private val TextTables = Seq("documents")

  /** INCREMENTAL text-index maintenance — the
    * [[SimilarityOps.appendToStagedIvfIndex]] sibling for the dedup
    * gate's base side: after the gate ADMITS a batch (its survivors
    * join the corpus), fold the batch's signatures into the SERVED
    * probe indexes so subsequent arrivals dedup against it without a
    * rebuild. Band rows append files into only the touched `sp`
    * partition dirs, shingle rows into the touched `db` dirs; every
    * probe read picks the new rows up on its next pruned scan with zero
    * changes. Scale shape: the append touches batch-sized data only —
    * signing is an in-row projection, no shuffle, no read of the
    * existing index. Appending declares the batch BASE regardless of
    * its ids' increment-bucket membership (admission is the caller's
    * statement, not an id property). Cap nuance: appended rows bypass
    * the staging cap (they are bounded by the batch); the cap
    * re-asserts at the next re-stage. Returns the docs appended. */
  def appendToTextIndexes(spark: SparkSession, sfDir: String,
      docs: DataFrame): Long = {
    graft.GraftSession.registerFunctions(spark)
    val bandDir = bandIdxDir(spark, sfDir)
    val shDir = shingleIdxDir(spark, sfDir)
    val sigs = textSignaturesOf(docs)
      .select(col("doc_id"), col("bands"), col("sh")).persist()
    try {
      val n = sigs.count()
      val bandRows = sigs.select(col("doc_id"),
          posexplode(col("bands")).as(Seq("band", "sig")))
        .select(col("band"), col("sig"), col("doc_id"),
          sigPrefix(col("sig")).as("sp"))
      graft.util.StagedArtifacts.append(bandDir, bandRows, "sp")
      val shRows = sigs.select(col("doc_id"), col("sh"),
        Hashing.md5Bucket(col("doc_id"), DocBucketParts).cast("int").as("db"))
      graft.util.StagedArtifacts.append(shDir, shRows, "db")
      graft.util.ServingManifest.addCounter(sfDir, TextAppendsFamily,
        TextTables, bandDir.toString, n)
      n
    } finally { sigs.unpersist(); () }
  }

  /** Resolve a staged index dir WITHOUT building: the in-JVM memo, else
    * the durable root (a restarted JVM's surviving index). None ⇒ never
    * staged anywhere ⇒ serves nothing. */
  private def resolvedIdxDir(memo: graft.util.StampedMemo[java.nio.file.Path],
      sfDir: String, name: String): Option[java.nio.file.Path] =
    memo.peek(sfDir)
      .orElse(graft.util.StagedArtifacts.resolveExisting(sfDir, memo, name))

  /** Staleness gauge: the fraction of the served shingle index that
    * entered via append — signed under the same stateless projection
    * the stager uses, but never capped and never seen by a full
    * staging. A serving tier re-stages when this crosses its budget.
    * PURE ARITHMETIC over manifest values (r14 verdict #4): append
    * counter / (base rows recorded at staging + appends) — a
    * monitoring read never scans the index. Resolve, never build:
    * un-staged indexes serve nothing and are 0% stale by definition
    * (Verify records this gauge unconditionally every round); a
    * restarted JVM resolves the durable dir, so the gauge survives a
    * restart with the appends it counts. */
  def textIndexStaleFraction(spark: SparkSession, sfDir: String): Double =
    (resolvedIdxDir(bandIdxDirs, sfDir, "band_idx"),
      resolvedIdxDir(shingleIdxDirs, sfDir, "shingle_idx")) match {
      case (Some(bd), Some(sd)) =>
        val appended = graft.util.ServingManifest
          .getCounter(sfDir, TextAppendsFamily, TextTables, bd.toString)
        if (appended == 0) 0.0
        else appended.toDouble /
          (graft.util.StagedArtifacts.stagedBaseRows(sfDir, shingleIdxDirs, sd)
            + appended).toDouble
      case _ => 0.0
    }

  /** Staleness-triggered RE-STAGE — the
    * [[SimilarityOps.maybeRetrainStagedIndex]] sibling: when the
    * appended fraction crosses `threshold`, drop every staged text
    * artifact for THIS corpus dir (signatures + both probe indexes) and
    * rebuild eagerly from the current corpus snapshot. COMPACTION
    * CONTRACT as the ANN stack's: the rebuild reads ONLY the corpus
    * dir — rows that entered via [[appendToTextIndexes]] but were never
    * landed in the corpus are DROPPED from the served indexes (the
    * ingestion tier must commit admitted batches to corpus storage
    * before the threshold trips). Returns whether a re-stage ran. */
  def maybeRestageTextIndexes(spark: SparkSession, sfDir: String,
      threshold: Double): Boolean = {
    val stale = textIndexStaleFraction(spark, sfDir)
    graft.ObservedMetrics.recordGauge("text.index_stale_fraction", stale)
    if (stale <= threshold) false
    else {
      // re-derive the signature snapshot, then rebuild both probe
      // indexes into a FRESH GENERATION (per-dir: re-staging THIS
      // corpus must not un-stage other corpora): the new dirs' append
      // counters correctly read zero, the old generations sweep, and
      // their counters self-heal out of the manifest on next read
      textSigDirs.invalidate(sfDir)
      bandIdxDir(spark, sfDir, fresh = true)    // rebuild eagerly:
      shingleIdxDir(spark, sfDir, fresh = true) // serving never races
      true                                      // a half-built artifact
    }
  }

  // ---------------------------------------------------------------------
  // Takedown through the dedup probe indexes (r18 verdict #1): the
  // text/media sibling of the vector overlay's tombstoneSegmentRows and
  // the cluster overlay's tombstoneClusterDocs — a retracted doc's
  // bands/shingles (and a retracted asset's fingerprint) must stop
  // serving as dedup MATCH TARGETS, and the batch dup keys must stop
  // LISTING the retracted content, at increment cadence rather than at
  // the next corpus re-stage.
  // ---------------------------------------------------------------------

  /** The tombstone partition value — a real partition value no probe
    * ever computes ([[sigPrefix]]/[[mediaBlockPrefix]]/`db` buckets are
    * all in [0, parts)), so the tombstone files live INSIDE the probe-
    * index roots yet a pruned probe scan never lists them, exactly the
    * ANN overlay's `cell = -1` discipline. The partition value itself
    * is the deletion flag: no `deleted` column, so the hot probe reads
    * never pay a mergeSchema. */
  private[graft] val TombstonePart = -1

  /** One tombstone row per id, schema-aligned with the index dir it
    * lands in: payload columns are typed NULLs (no reader dereferences
    * them — every read either prunes the tombstone partition away or
    * projects `idCol` alone), the partition column is
    * [[TombstonePart]]. */
  private def tombstoneRowsFor(spark: SparkSession, dir: java.nio.file.Path,
      ids: DataFrame, idCol: String, partCol: String): DataFrame = {
    // served from the per-dir schema cache — the bare read re-ran
    // footer inference per tombstone append (opt r20)
    val schema = graft.util.StagedArtifacts.readStaged(spark, dir).schema
    ids.select(schema.fields.toSeq.map { f =>
      if (f.name == idCol) col(idCol).cast(f.dataType).as(idCol)
      else if (f.name == partCol)
        lit(TombstonePart).cast(f.dataType).as(partCol)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** RETRACTION (takedown / right-to-be-forgotten) for the TEXT dedup
    * probe indexes — one tombstone file set per call, appended into the
    * `sp = -1` / `db = -1` partitions of the band and shingle index
    * roots. From the next serve on, the retracted docs are out of the
    * streaming gate's candidate probe ([[probeCandidates]] anti-joins
    * the pruned index scan against the tombstone ids) and out of the
    * batch dup keys ([[stagedLshVerifiedDups]]/[[stagedIncrementalDedup]]
    * drop pairs touching a tombstoned endpoint). Terminal at increment
    * cadence: the corpus re-stage ([[maybeRestageTextIndexes]] fresh
    * generation) absorbs the tombstones — durable deletion is the
    * corpus rewrite's job, the index's job is the serving gap between
    * (the [[graft.operators.SimilarityOps.tombstoneSegmentRows]]
    * contract). Cost: O(retracted ids) — one bounded write per index,
    * no read of the live index, no shuffle. */
  def tombstoneTextDocs(spark: SparkSession, sfDir: String,
      ids: DataFrame): Unit = {
    val bandDir = bandIdxDir(spark, sfDir)
    val shDir = shingleIdxDir(spark, sfDir)
    val obs = org.apache.spark.sql.Observation()
    val bandTs = tombstoneRowsFor(spark, bandDir, ids, "doc_id", "sp")
    graft.util.StagedArtifacts.append(bandDir,
      bandTs.observe(obs, count(lit(1)).as("n")), "sp")
    val shTs = tombstoneRowsFor(spark, shDir, ids, "doc_id", "db")
    graft.util.StagedArtifacts.append(shDir, shTs, "db")
    graft.ObservedMetrics.recordGauge("text.tombstoned_docs",
      obs.get("n").asInstanceOf[Long].toDouble)
  }

  /** Retire the text tombstone partitions — the takedown keys' cleanup
    * (the `ann_del` drop-registration discipline): deletes the
    * `sp = -1` / `db = -1` dirs so the steady-state serve carries no
    * leftover test/run state. Resolve, never build; no-op when no
    * tombstones exist. */
  def dropTextTombstones(spark: SparkSession, sfDir: String): Unit =
    Seq(resolvedIdxDir(bandIdxDirs, sfDir, "band_idx").map(_.resolve(s"sp=$TombstonePart")),
        resolvedIdxDir(shingleIdxDirs, sfDir, "shingle_idx").map(_.resolve(s"db=$TombstonePart")))
      .flatten.filter(java.nio.file.Files.isDirectory(_))
      .foreach(graft.util.TempDirs.deleteNow)

  /** The tombstone partition of `dir` as a readable path, if it holds
    * data files — the existence probe every exclusion site starts from:
    * one local listing of the marker dir alone, never of the index
    * tree. The returned path is read DIRECTLY (not via the root +
    * partition filter): a root read pays partition DISCOVERY — a LIST
    * of the whole index tree — on every serve call just to prune back
    * to this one dir, a per-call metadata cost ∝ index files at 100 TB;
    * the direct read lists only the marker files (bounded by retraction
    * volume). */
  private def tombstonePartDir(dir: java.nio.file.Path,
      partCol: String): Option[java.nio.file.Path] =
    Some(dir.resolve(s"$partCol=$TombstonePart"))
      .filter(d => graft.util.EpochDirs.dataFilesIn(d).nonEmpty)

  /** The doc ids currently tombstoned in the band probe index — a
    * direct read of the `sp = -1` marker files alone (bounded by
    * retraction volume, never corpus-proportional), broadcast by every
    * exclusion site. None when no tombstone partition exists — the
    * overwhelmingly common path, costing one local listing probe
    * and ZERO plan change (the [[graft.operators.SimilarityOps
    * .servedIndex]] columns-guard discipline). Resolve, never build: an
    * un-staged index holds no tombstones. */
  private[graft] def textTombstoneIds(spark: SparkSession,
      sfDir: String): Option[DataFrame] =
    resolvedIdxDir(bandIdxDirs, sfDir, "band_idx")
      .flatMap(tombstonePartDir(_, "sp"))
      // only the id column is read — declaring it skips the per-serve
      // footer-inference job (opt r20)
      .map(d => spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT"))
        .parquet(d.toString).select("doc_id").distinct())

  /** Drop rows whose id in any of `cols` is tombstoned — the exclusion
    * every takedown-aware serve rides: one bounded BROADCAST left-anti
    * join per column when tombstones exist, the untouched frame when
    * none do. Deliberately applied at the OUTPUT (pair/row) level, not
    * by filtering docs out of the signature frame before bucketing: a
    * pre-bucketing filter would shift the capped bucket RANKING
    * (`row_number` over fewer members), so the surviving pairs could
    * differ from "the no-tombstone chain minus retracted pairs" — the
    * post-filter keeps the serve bit-identical to that subtraction (the
    * oracle's formulation) at any bucket size, at a cost bounded by dup
    * density × deleted fraction. */
  private def excludeTombstoned(df: DataFrame, tomb: Option[DataFrame],
      idCol: String, cols: Seq[String]): DataFrame =
    tomb match {
      case None => df
      case Some(t) =>
        cols.foldLeft(df)((d, c) => d.join(
          broadcast(t.select(col(idCol).as(c))), Seq(c), "left_anti"))
    }

  /** [[excludeTombstoned]] with the text tombstone feed resolved from
    * `sfDir` — the form the remaining text dup-listing keys (and
    * [[graft.operators.LlmOps]]'s `doc_nd`) wrap their serves in, so
    * EVERY key that lists doc ids as duplicate members stops listing a
    * retracted doc, not just the LSH family. */
  private[graft] def excludeTombstonedDocs(spark: SparkSession,
      sfDir: String, df: DataFrame, cols: Seq[String]): DataFrame =
    excludeTombstoned(df, textTombstoneIds(spark, sfDir), "doc_id", cols)

  /** RETRACTION for a MEDIA modality's fingerprint probe index — the
    * [[tombstoneTextDocs]] sibling: tombstone rows land in the
    * `mp = -1` partition of the modality's band index; the streaming
    * probe ([[incrementalMediaDedupBatch]]) and the batch dup keys
    * ([[imageDHashDups]]/[[audioHashDups]]/[[videoHashDups]]) exclude
    * the retracted assets from the next serve on; the re-stage
    * ([[maybeRestageMediaIndex]]) absorbs. */
  def tombstoneMediaAssets(spark: SparkSession, sfDir: String,
      ids: DataFrame, m: MediaModality = ImageModality): Unit = {
    val dir = mediaBandIdxDir(spark, sfDir, m)
    val ts = tombstoneRowsFor(spark, dir, ids, "media_id", "mp")
    graft.util.StagedArtifacts.append(dir, ts, "mp")
  }

  /** [[dropTextTombstones]] for a media modality. */
  def dropMediaTombstones(spark: SparkSession, sfDir: String,
      m: MediaModality = ImageModality): Unit =
    resolvedIdxDir(mediaBandIdxDirs(m.name), sfDir, mediaIdxName(m))
      .map(_.resolve(s"mp=$TombstonePart"))
      .filter(java.nio.file.Files.isDirectory(_))
      .foreach(graft.util.TempDirs.deleteNow)

  /** [[textTombstoneIds]] for a media modality — the same direct
    * marker-dir read. */
  private[graft] def mediaTombstoneIds(spark: SparkSession, sfDir: String,
      m: MediaModality = ImageModality): Option[DataFrame] =
    resolvedIdxDir(mediaBandIdxDirs(m.name), sfDir, mediaIdxName(m))
      .flatMap(tombstonePartDir(_, "mp"))
      // only the id column is read — declaring it skips the per-serve
      // footer-inference job (opt r20)
      .map(d => spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL("media_id BIGINT"))
        .parquet(d.toString).select("media_id").distinct())

  /** Deterministic takedown slice for the `lsh_del` contract key —
    * every doc_id ≡ [[DocDeleteRem]] (mod [[DocDeleteMod]]):
    * SQL-expressible, so the oracle is the `incr_dedup` chain minus
    * pairs touching exactly these ids (the
    * [[graft.operators.SimilarityOps.DeleteMod]] recipe). */
  private[graft] val DocDeleteMod = 13
  private[graft] val DocDeleteRem = 5

  /** Text dedup WITH DELETIONS through the probe-index tombstones — the
    * takedown contract key (`lsh_del`), completing the deletion story
    * across the index families (vectors: `ann_del`; clusters:
    * [[tombstoneClusterDocs]]; text: here; media:
    * [[tombstoneMediaAssets]], spec-locked): ingest one tombstone file
    * set for the deterministic [[DocDeleteMod]]-slice and run the
    * incremental-dedup serve THROUGH it — [[stagedIncrementalDedup]]
    * reads the tombstone ids from the band index's `sp = -1` partition
    * (the REAL serving read, not a test shim) and drops every pair
    * touching the slice. Materializes before the tombstones retire in
    * `finally` (the `ann_del` lifecycle discipline), so the key leaves
    * no state behind for the rest of the inventory. */
  def lshDeleteServe(spark: SparkSession, sfDir: String): DataFrame = {
    val ids = Fixtures.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(DocDeleteMod)) === lit(DocDeleteRem))
      .select("doc_id")
    tombstoneTextDocs(spark, sfDir, ids)
    try {
      val out = stagedIncrementalDedup(spark, sfDir)
      val dir = java.nio.file.Files.createTempDirectory("graft_lsh_del_out_")
      graft.util.TempDirs.track(dir)
      out.write.mode("overwrite").parquet(dir.toString)
      // declared schema (the frame just written) — skips the read-back's
      // footer-inference job (opt r20)
      spark.read.schema(out.schema).parquet(dir.toString)
    } finally dropTextTombstones(spark, sfDir)
  }

  /** Assert the bucket-cap premise the streaming dedup's oracle relies
    * on (ADVICE r13): [[stagedBandProbeIndex]] caps each (band, sig)
    * bucket's BASE members alone at staging, while the shared
    * `incr_dedup` oracle (and [[docIncrementalDedup]]) ranks new+base
    * interleaved — identical exactly when NO bucket overflows. `Verify`
    * calls this before dumping `stream_lsh`, so a corpus with a
    * mega-bucket fails LOUD at the gate (the one-batch-premise
    * discipline) instead of silently diverging at the hash compare.
    * Checks the INTERLEAVED bucket sizes (the strictest reading: no cap
    * binds anywhere); cost is one aggregation over the staged band
    * column — scalars, no tokenize. */
  def assertTextProbeCapPremise(spark: SparkSession, sfDir: String): Unit = {
    graft.GraftSession.registerFunctions(spark)
    val mx = stagedTextSignatures(spark, sfDir)
      .select(posexplode(col("bands")).as(Seq("band", "sig")))
      .groupBy("band", "sig").agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L))).collect()(0).getLong(0)
    require(mx <= MaxBucketMembers,
      s"stream_lsh cap premise: a (band, sig) bucket holds $mx members > " +
        s"MaxBucketMembers=$MaxBucketMembers — the staged band index's " +
        "base-only cap no longer matches the oracle's interleaved ranking")
  }

  /** Verified cross dups of ONE arriving increment batch against the
    * frozen base — the per-micro-batch body of the STREAMING ingestion
    * dedup ([[graft.streaming.StreamOps.streamTextDedup]]). The batch's
    * docs are signed in-batch ([[textSignaturesOf]] — a stateless
    * projection), then BOTH serving reads prune partitions:
    * candidates come from [[stagedBandProbeIndex]] scanned only at the
    * increment's signature prefixes (distinct-`sp` collect, bounded by
    * [[SigPrefixParts]] — the staged-ANN probed-cells discipline), and
    * the verify stage's base shingle sets come from
    * [[stagedShingleIndex]] scanned only at the candidate docs' buckets.
    * Per-batch cost is O(increment + matched buckets + candidates) —
    * no corpus-wide scan, shuffle, or re-tokenize anywhere in the batch
    * body. The increment's exploded bands broadcast (a micro-batch is
    * admission-bounded); candidate-sized joins stay unhinted for AQE.
    *
    * Only cross (new × base) pairs are candidates, so each arriving
    * doc's verified dups depend on (that doc, the frozen base) alone —
    * micro-batch-split independent. Unioned over any split of the full
    * increment this equals [[docIncrementalDedup]] over the whole
    * corpus when bucket caps don't bind (spec-locked on the fixture;
    * see [[stagedBandProbeIndex]] for the overflow nuance). */
  /** Phase 1 of [[incrementalDedupBatch]]: the signature-prefix-PRUNED
    * band-probe join producing one batch's candidate pairs. Factored so
    * the plan guard asserts its `sp` pruning on this plan directly —
    * the batch body checkpoints this result (see below), so the band
    * scan no longer appears in the final served plan. */
  private[graft] def probeCandidates(spark: SparkSession, sfDir: String,
      incBands: DataFrame): DataFrame = {
    // bounded collect: the distinct partition keys this batch probes
    // (≤ SigPrefixParts, an index constant — never data-proportional)
    val sps = incBands.select(sigPrefix(col("sig")).as("sp"))
      .distinct().collect().map(_.getInt(0)).toSeq
    probeCandidatesAt(spark, sfDir, incBands, sps)
  }

  /** [[probeCandidates]] with the probed prefix set supplied by the
    * caller — the streaming batch body rides it on the signature
    * checkpoint write as an observed collect_set (opt r20), so no
    * separate collect job runs. */
  private[graft] def probeCandidatesAt(spark: SparkSession, sfDir: String,
      incBands: DataFrame, sps: Seq[Int]): DataFrame =
    // takedown exclusion (r19): a tombstoned base doc must stop serving
    // as a match target — the anti-join rides the already-pruned,
    // already-bounded probe scan; zero plan change when no tombstone
    // partition exists
    excludeTombstoned(
        stagedBandProbeIndex(spark, sfDir).filter(col("sp").isin(sps: _*)),
        textTombstoneIds(spark, sfDir), "doc_id", Seq("doc_id"))
      .join(broadcast(incBands), Seq("band", "sig"))
      .groupBy(col("new_doc"), col("doc_id").as("base_doc"))
      .agg(count(lit(1)).as("n_bands"))

  /** One batch-checkpoint ROOT per (corpus, JVM) — see the overwrite
    * note in [[incrementalDedupBatch]]; media keys by (corpus,
    * modality). Writes ROTATE through four subdirs of the root (ADVICE
    * r14): with a single dir, two concurrent callers on the same corpus
    * (parallel suites, two streams) raced one's overwrite against the
    * other's in-flight read of the returned plan. The rotation does NOT
    * make concurrent callers fully collision-proof — it widens the
    * window to a THREE-WRITE lag (a returned plan stays readable until
    * the key's fourth subsequent checkpoint write), which every
    * in-repo caller satisfies by consuming the plan inside its own
    * batch, while keeping the leak bound (four subdirs per key, ever —
    * never a dir per micro-batch). Callers needing unbounded
    * concurrent plans must checkpoint to their own dirs. */
  private val candDirs = new java.util.concurrent.ConcurrentHashMap[
    String, (java.nio.file.Path, java.util.concurrent.atomic.AtomicLong)]()

  private def nextCandDir(key: String, prefix: String): java.nio.file.Path = {
    val (root, n) = candDirs.computeIfAbsent(key, _ => {
      val d = java.nio.file.Files.createTempDirectory(prefix)
      graft.util.TempDirs.track(d)
      (d, new java.util.concurrent.atomic.AtomicLong(0))
    })
    root.resolve(s"b${n.getAndIncrement() % 4}")
  }

  /** Round-robin an ARRIVING micro-batch across the session's
    * parallelism before its CPU-bound in-batch body (codec decode,
    * tokenize+sign, gram hashing — opt r19): a file-stream batch
    * arrives with one partition per source file split, and for a
    * single-file landing (the fixture; any small topic file) that
    * serializes the whole per-batch compute on one core while the
    * session idles. Pure row-level spread of batch-sized data — every
    * in-batch body is per-row projection or aggregate work, so results
    * are unchanged at any split. */
  private[graft] def spreadBatch(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  def incrementalDedupBatch(spark: SparkSession, sfDir: String,
      increment: DataFrame): DataFrame = {
    graft.GraftSession.registerFunctions(spark)
    // SIGNATURE CHECKPOINT (opt r20 — the media gate's fingerprint-
    // checkpoint symmetry): the batch's signatures (tokenize + MinHash
    // + shingles, the batch body's CPU) were previously recomputed in
    // THREE plan branches — the prefix collect, the candidate probe's
    // broadcast side, and the final verify's new-shingle side. One
    // parquet checkpoint computes them once; the probe's bounded
    // prefix set (≤ SigPrefixParts) rides the write as an observed
    // collect_set instead of a separate job. Same rotation-root
    // discipline as the candidate checkpoint below (its own key).
    val sigDir = nextCandDir(s"sig:$sfDir", "graft_lsh_sig_")
    val sigFrame = textSignaturesOf(spreadBatch(increment))
      .select(col("doc_id"), col("bands"), col("sh"))
    val spObs = org.apache.spark.sql.Observation()
    sigFrame
      .observe(spObs,
        collect_set(transform(col("bands"), b => sigPrefix(b))).as("sps"))
      .write.mode("overwrite").parquet(sigDir.toString)
    val sps = spObs.get("sps").asInstanceOf[Seq[Seq[Int]]].flatten.distinct
    val inc = spark.read.schema(sigFrame.schema).parquet(sigDir.toString)
    val incBands = inc
      .select(col("doc_id").as("new_doc"),
        posexplode(col("bands")).as(Seq("band", "sig")))
    // checkpoint the candidate list (dup-density-bounded, 3 scalars/row)
    // before its two consumers: the distinct-db collect below AND the
    // final served plan both read it, and without materialization each
    // re-ran the pruned probe scan + broadcast join per micro-batch —
    // the persist/checkpoint-between-stages discipline the batch
    // pipeline's scaladoc prescribes, applied where the stage really is
    // evaluated twice. Parquet, not cache: the returned plan outlives
    // this call, so a cache would have no safe unpersist point. ONE
    // checkpoint dir per (corpus, JVM), overwritten per batch — a
    // continuous ingestion stream must not leak a dir per micro-batch;
    // the returned plan is therefore valid until the NEXT batch of the
    // same corpus, which the streaming caller satisfies by construction
    // (each epoch's sink write completes before the next batch starts).
    val candDir = nextCandDir(sfDir, "graft_lsh_cand_")
    val candFrame = probeCandidatesAt(spark, sfDir, incBands, sps)
    // the verify stage's bounded partition-key set (≤ DocBucketParts,
    // an index constant) rides the checkpoint write as an observed
    // collect_set instead of a separate post-write distinct job
    // (opt r20 — the tombstoneClusterDocs ride-along discipline;
    // set semantics stay exact under task retries)
    val obs = org.apache.spark.sql.Observation()
    candFrame
      .observe(obs, collect_set(
        Hashing.md5Bucket(col("base_doc"), DocBucketParts).cast("int"))
        .as("dbs"))
      .write.mode("overwrite").parquet(candDir.toString)
    val dbs = obs.get("dbs").asInstanceOf[Seq[Int]]
    // declared schema (the frame just written): a bare read re-ran
    // footer inference — one job per micro-batch (opt r20)
    val cand = spark.read.schema(candFrame.schema).parquet(candDir.toString)
    val withNewSh = cand.join(
      inc.select(col("doc_id").as("new_doc"), col("sh").as("nsh")), "new_doc")
    val baseSh = stagedShingleIndex(spark, sfDir)
      .filter(col("db").isin(dbs: _*))
      .select(col("doc_id").as("base_doc"), col("sh").as("bsh"))
    withNewSh.join(baseSh, "base_doc")
      .select(col("new_doc"), col("base_doc"), col("n_bands"),
        call_function("jaccard_distinct", col("nsh"), col("bsh"))
          .as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** The bucket→cross-pair→verify core of [[docIncrementalDedup]], over
    * any `(doc_id, bands, sh)` signature frame. */
  private def incrementalFromSignatures(sigs: DataFrame): DataFrame = {
    val bands = sigs
      .select(col("doc_id"), isNewDoc.as("is_new"),
        posexplode(col("bands")).as(Seq("band", "sig")))
    def pairStruct(a: Column, b: Column): Column = struct(
      when(a.getField("is_new"), a.getField("doc_id"))
        .otherwise(b.getField("doc_id")).as("new_doc"),
      when(a.getField("is_new"), b.getField("doc_id"))
        .otherwise(a.getField("doc_id")).as("base_doc"),
      (a.getField("is_new") =!= b.getField("is_new")).as("cross"))
    val cand = groupMembers(bands, Seq(col("band"), col("sig")),
        struct(col("doc_id"), col("is_new")), col("doc_id"),
        "incremental_bucket_overflow")
      .select(explode(memberPairs(col("m"), pairStruct)).as("p"))
      .filter(col("p.cross"))
      .groupBy(col("p.new_doc").as("new_doc"), col("p.base_doc").as("base_doc"))
      .agg(count(lit(1)).as("n_bands"))
    verifyPairsJaccard(cand, sigs.select(col("doc_id"), col("sh")),
      "new_doc", "base_doc")
  }

  // ---------------------------------------------------------------------
  // Media fingerprint probe index + lifecycle (the text-index maintenance
  // discipline applied to the dedup gate's media side)
  // ---------------------------------------------------------------------

  /** Partition count of [[stagedMediaBandIndex]] — an index constant
    * like [[SigPrefixParts]], so the per-batch distinct-partition
    * collect is bounded by it, never by data. */
  val MediaBandParts = 64

  /** The media band index's partition key: the md5 bucket of the
    * combined block code `blk*128 + blk_val` (unique per bucket) mod
    * [[MediaBandParts]], written as INT so the value round-trips
    * partition-type inference to the same type the probe filter
    * compares (the [[sigPrefix]] pruning discipline). md5-derived, not
    * engine-native hash — the file's portability contract: a future
    * oracle or cross-engine reader can reproduce the partition key. (A
    * plain `code mod 64` would collapse to `blkVal mod 64` — 128 ≡ 0
    * mod 64 — and waste the block dimension; the md5 mixes both.) */
  private def mediaBlockPrefix(blk: Column, blkVal: Column): Column =
    Hashing.md5Bucket(blk * 128 + blkVal, MediaBandParts).cast("int")

  /** A media modality's dedup surfaces: its staged corpus fingerprint
    * artifact, its in-batch fingerprinter (the SAME real codec both
    * ways, so increment and base rows are comparable by construction),
    * and the fixture's doc→asset synthesizer (production swaps this for
    * its landing-dir reader). Every modality shares the banding
    * geometry (8 × 7-bit blocks over a 56-bit fingerprint), so ONE
    * index/probe/append/re-stage implementation serves all three — the
    * lifecycle functions below take a modality and default to image. */
  final case class MediaModality(
      name: String,
      stagedHashes: (SparkSession, String) => DataFrame,
      fingerprint: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord] => DataFrame,
      table: DataFrame => org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord])

  val ImageModality: MediaModality = MediaModality("img",
    graft.multimodal.MultimodalOps.stagedImageHashes,
    graft.multimodal.MultimodalOps.imageDHash,
    graft.multimodal.MultimodalOps.textureTable)
  val AudioModality: MediaModality = MediaModality("wav",
    graft.multimodal.MultimodalOps.stagedAudioHashes,
    graft.multimodal.MultimodalOps.audioEnergyHash,
    graft.multimodal.MultimodalOps.audioTable)
  val VideoModality: MediaModality = MediaModality("gif",
    graft.multimodal.MultimodalOps.stagedVideoHashes,
    graft.multimodal.MultimodalOps.videoTemporalHash,
    graft.multimodal.MultimodalOps.videoTable)

  val MediaModalities: Seq[MediaModality] =
    Seq(ImageModality, AudioModality, VideoModality)

  private val mediaBandIdxDirs: Map[String, graft.util.StampedMemo[java.nio.file.Path]] =
    MediaModalities.map(m =>
      m.name -> new graft.util.StampedMemo[java.nio.file.Path]("documents")).toMap

  /** Build counter for the media probe-index artifacts — the
    * [[probeStageBuilds]] sibling (shared across modalities: each
    * build increments once). */
  val mediaProbeStageBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Increment membership for MEDIA rows: an asset is NEW iff its
    * GENERATING doc is ([[isNewDoc]] through the arithmetic inverse of
    * the asset-id scheme,
    * [[graft.multimodal.MultimodalOps.mediaSrcDoc]]) — so the media
    * increment is the same corpus slice as the text one even though
    * media ids are disjoint from doc ids, and an arriving doc's assets
    * are never half-in-half-out of the base index. */
  private[graft] def isNewMedia: Column =
    isNewId(graft.multimodal.MultimodalOps.mediaSrcDoc(col("media_id")))

  /** The BASE side's banded fingerprint index, staged once per corpus
    * snapshot and PARTITIONED BY BLOCK-BUCKET HASH — the media analog of
    * [[stagedBandProbeIndex]]: an arriving batch's fingerprint blocks
    * name the only `mp` partitions worth scanning, so the per-batch
    * candidate probe reads O(matched buckets), not the corpus. Unlike
    * text, ONE index serves both stages: the hamming verify needs only
    * the two fingerprints, and `dhash` rides in the row — no second
    * point-fetch index. Rows: `(blk, blk_val, media_id, dhash)` for
    * base (non-increment) assets, each bucket capped at
    * [[MaxBucketMembers]] at staging (overflow observed — the
    * truncation-is-never-silent discipline; see
    * [[assertMediaProbeCapPremise]] for the base-only-vs-interleaved cap
    * nuance this shares with the text index). Pruning honesty: block
    * values are data, so a batch of B assets probes
    * min(8B, [[MediaBandParts]]) buckets — strongest for small admission
    * batches; a huge batch degrades to a full (column-pruned,
    * shuffle-free) scan of the 4-scalar index. */
  def stagedMediaBandIndex(spark: SparkSession, sfDir: String,
      m: MediaModality = ImageModality): DataFrame =
    graft.util.StagedArtifacts.readStaged(spark,
      mediaBandIdxDir(spark, sfDir, m))

  private def mediaIdxName(m: MediaModality): String = s"media_idx_${m.name}"

  private def mediaBandIdxDir(spark: SparkSession, sfDir: String,
      m: MediaModality, fresh: Boolean = false): java.nio.file.Path =
    graft.util.StagedArtifacts.parquetDir(sfDir, mediaBandIdxDirs(m.name),
      mediaIdxName(m), mediaProbeStageBuilds, Seq("mp"), freshGen = fresh,
      // base size = distinct ASSETS (the staleness gauge's denominator
      // unit — appends count assets), not banded block rows
      baseCount = _.select("media_id").distinct().count()) {
      val blocks = mediaBlocksOf(m.stagedHashes(spark, sfDir).filter(!isNewMedia))
      capBuckets(blocks, Seq(col("blk"), col("blk_val")), col("media_id"),
          mediaOverflowMetric(m))
        .select(col("blk"), col("blk_val"), col("media_id"), col("dhash"),
          mediaBlockPrefix(col("blk"), col("blk_val")).as("mp"))
    }

  /** Image keeps the unsuffixed metric/gauge names (round-artifact
    * continuity with r14's first recording); the other modalities
    * suffix theirs. */
  private def mediaOverflowMetric(m: MediaModality): String =
    if (m.name == "img") "media_band_idx_overflow"
    else s"media_band_idx_${m.name}_overflow"

  private[graft] def mediaStaleGauge(m: MediaModality): String =
    if (m.name == "img") "media.index_stale_fraction"
    else s"media.index_stale_fraction_${m.name}"

  /** TEST-ONLY isolation drop for the media probe indexes — the
    * [[dropStagedProbeIndexes]] semantics (delete the durable dirs so
    * the next access rebuilds; counters scoped per staged dir). */
  def dropStagedMediaProbeIndex(): Unit = {
    for (memo <- mediaBandIdxDirs.values; sf <- memo.keys; d <- memo.peek(sf))
      graft.util.ServingManifest.removeCounter(sf, MediaAppendsFamily,
        MediaTables, d.toString)
    mediaBandIdxDirs.values.foreach(_.clear())
    MediaModalities.foreach(m =>
      graft.util.StagedArtifacts.dropDurable(mediaIdxName(m)))
  }

  /** Manifest family for the media append/staleness bookkeeping — the
    * [[TextAppendsFamily]] sibling, same persistence rationale
    * (counters key by index dir, and index dirs are per-modality, so
    * one family serves all three). */
  private val MediaAppendsFamily = "media_appends"

  /** The fixture tables the media indexes stamp over. Today the media
    * corpus DERIVES from `documents` (each row synthesizes its assets),
    * so this aliases [[TextTables]] — named separately so the
    * corpus-stamp intent stays explicit when media gets its own fixture
    * table (r14 verdict #4, cosmetic). */
  private val MediaTables = TextTables

  /** INCREMENTAL media-index maintenance — [[appendToTextIndexes]] for
    * the dedup gate's media side: after the gate ADMITS a batch of
    * assets, decode ONLY the batch through the real codec and fold its
    * banded fingerprint rows into the SERVED probe index — no re-decode
    * of the corpus, no rebuild, append files into only the touched `mp`
    * partition dirs. Appending declares the batch BASE regardless of
    * its ids' increment-bucket membership (admission is the caller's
    * statement). Appended rows bypass the staging cap (bounded by the
    * batch); the cap re-asserts at the next re-stage. Returns the
    * assets appended (decode-failed payloads drop per-row, exactly as
    * at staging). */
  def appendToMediaIndex(spark: SparkSession, sfDir: String,
      batch: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord],
      m: MediaModality = ImageModality): Long = {
    val dir = mediaBandIdxDir(spark, sfDir, m)
    val fp = m.fingerprint(batch).persist()
    try {
      val n = fp.count()
      val blockRows = mediaBlocksOf(fp)
        .select(col("blk"), col("blk_val"), col("media_id"), col("dhash"),
          mediaBlockPrefix(col("blk"), col("blk_val")).as("mp"))
      graft.util.StagedArtifacts.append(dir, blockRows, "mp")
      graft.util.ServingManifest.addCounter(sfDir, MediaAppendsFamily,
        MediaTables, dir.toString, n)
      n
    } finally { fp.unpersist(); () }
  }

  /** Staleness gauge: the fraction of assets in the served media index
    * that entered via append — the [[textIndexStaleFraction]] sibling:
    * pure arithmetic (appended assets / (staged base assets + appended)),
    * resolve-never-build, restart-surviving through the durable dir.
    * Assumes appended ids are NEW assets (the admission contract: a
    * re-append of an existing id would double-count one asset in the
    * denominator — a gauge skew, never a correctness issue). */
  def mediaIndexStaleFraction(spark: SparkSession, sfDir: String,
      m: MediaModality = ImageModality): Double =
    resolvedIdxDir(mediaBandIdxDirs(m.name), sfDir, mediaIdxName(m)) match {
      case None => 0.0
      case Some(dir) =>
        val appended = graft.util.ServingManifest
          .getCounter(sfDir, MediaAppendsFamily, MediaTables, dir.toString)
        if (appended == 0) 0.0
        else appended.toDouble /
          (graft.util.StagedArtifacts.stagedBaseRows(sfDir,
            mediaBandIdxDirs(m.name), dir) + appended).toDouble
    }

  /** Staleness-triggered RE-STAGE — [[maybeRestageTextIndexes]] for the
    * media index, same COMPACTION CONTRACT: the rebuild reads only the
    * corpus snapshot (through the staged fingerprint artifact), so
    * appended assets never landed in the corpus DROP. Returns whether a
    * re-stage ran. */
  def maybeRestageMediaIndex(spark: SparkSession, sfDir: String,
      threshold: Double, m: MediaModality = ImageModality): Boolean = {
    val stale = mediaIndexStaleFraction(spark, sfDir, m)
    graft.ObservedMetrics.recordGauge(mediaStaleGauge(m), stale)
    if (stale <= threshold) false
    else {
      // fresh generation: the rebuild's append counter reads zero, the
      // old dir sweeps, its counter self-heals on next manifest read
      mediaBandIdxDir(spark, sfDir, m, fresh = true) // eager: serving
      true                                  // never races a half-build
    }
  }

  /** Drop the in-JVM staged-index memos WITHOUT touching the durable
    * dirs or the manifest — test-only: simulates a JVM restart, so the
    * restart-durability spec can assert the durable root + persisted
    * counters alone restore the appended serving state (the
    * `forgetSegmentRegistrations` sibling). */
  private[graft] def forgetStagedIndexMemos(): Unit = {
    bandIdxDirs.clear(); shingleIdxDirs.clear()
    mediaBandIdxDirs.values.foreach(_.clear())
  }

  /** The cap premise for the media stream key's oracle —
    * [[assertTextProbeCapPremise]] for [[stagedMediaBandIndex]]:
    * `Verify` calls this before dumping `stream_img`. */
  def assertMediaProbeCapPremise(spark: SparkSession, sfDir: String,
      m: MediaModality = ImageModality): Unit = {
    val mx = mediaBlocksOf(m.stagedHashes(spark, sfDir))
      .groupBy("blk", "blk_val").agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L))).collect()(0).getLong(0)
    require(mx <= MaxBucketMembers,
      s"media (${m.name}) cap premise: a (blk, blk_val) bucket holds $mx " +
        s"members > MaxBucketMembers=$MaxBucketMembers — the staged media " +
        "index's base-only cap no longer matches the oracle's interleaved ranking")
  }

  /** Verified cross near-dups of ONE arriving media batch against the
    * frozen base — the per-micro-batch body of the STREAMING media
    * dedup ([[graft.streaming.StreamOps.streamMediaDedup]]), completing
    * the build / batch-serve / stream-serve triad for the media side
    * (text: `stream_lsh`; vectors: `stream_idx`/`ann_seg`). The batch's
    * payloads decode through the REAL codec exactly as the index build
    * decodes the corpus ([[graft.multimodal.MultimodalOps.imageDHash]]),
    * CHECKPOINTED to scalars so the decode runs once per batch (its two
    * consumers: the distinct-`mp` collect and the served join); then
    * the candidate probe scans [[stagedMediaBandIndex]] at only the
    * batch's block-bucket partitions (bounded collect ≤
    * [[MediaBandParts]]) and the full 56-bit hamming verify runs on the
    * joined fingerprints in-row. Per-batch cost O(batch + matched
    * buckets + candidates); no corpus decode, scan, or shuffle in the
    * batch body.
    *
    * Only cross (new × base) pairs emerge, so each arriving asset's
    * verified dups depend on (that asset, the frozen base) alone —
    * micro-batch-split independent; unioned over any split this equals
    * the cross-pair slice of [[imageDHashDups]] when bucket caps don't
    * bind (spec-locked; see [[assertMediaProbeCapPremise]]). */
  def incrementalMediaDedupBatch(spark: SparkSession, sfDir: String,
      batch: org.apache.spark.sql.Dataset[graft.multimodal.MediaRecord],
      m: MediaModality = ImageModality): DataFrame = {
    // one checkpoint dir per (corpus, modality, JVM), overwritten per
    // batch — the incrementalDedupBatch leak-bound discipline
    val fpDir = nextCandDir(s"$sfDir|${m.name}",
      s"graft_media_batch_fp_${m.name}_")
    // spread the arriving assets before the codec decode (opt r19 —
    // see [[spreadBatch]]): the decode is the batch body's CPU cost,
    // and a single-file batch otherwise decodes serially on one core
    val fpFrame = m.fingerprint(batch.repartition(
      batch.sparkSession.sparkContext.defaultParallelism))
    // the probe's bounded partition-key set (≤ MediaBandParts, an index
    // constant) rides the fingerprint checkpoint write as an observed
    // collect_set of each asset's 8 block-prefixes — the separate
    // post-write distinct job this replaces re-read the checkpoint
    // (opt r20). Same arithmetic as [[mediaBlocksOf]]+[[
    // mediaBlockPrefix]], folded per row: blk_val(b) =
    // shiftright(dhash, b*7) & 127.
    val obs = org.apache.spark.sql.Observation()
    fpFrame
      .observe(obs, collect_set(
        transform(sequence(lit(0), lit(ImgHashBlocks - 1)), b =>
          mediaBlockPrefix(b,
            call_function("shiftright", col("dhash"), b * 7)
              .bitwiseAND(lit(127L)))))
        .as("mps"))
      .write.mode("overwrite").parquet(fpDir.toString)
    val mps = obs.get("mps").asInstanceOf[Seq[Seq[Int]]].flatten.distinct
    // declared schema (the frame just written): a bare read re-ran
    // footer inference — one job per micro-batch (opt r20)
    val fp = spark.read.schema(fpFrame.schema).parquet(fpDir.toString)
    val incBlocks = mediaBlocksOf(fp)
      .select(col("media_id").as("new_media"), col("dhash").as("nh"),
        col("blk"), col("blk_val"))
    // takedown exclusion (r19): the probeCandidates stance — a
    // tombstoned base asset stops matching; zero plan change when no
    // tombstone partition exists
    excludeTombstoned(
        stagedMediaBandIndex(spark, sfDir, m).filter(col("mp").isin(mps: _*)),
        mediaTombstoneIds(spark, sfDir, m), "media_id", Seq("media_id"))
      .join(broadcast(incBlocks), Seq("blk", "blk_val"))
      .select(col("new_media"), col("media_id").as("base_media"),
        expr("bit_count(nh ^ dhash)").as("hamming"))
      // threshold BEFORE the dedup exchange (the imageHashPairs
      // discipline: hamming is a pair function)
      .filter(col("hamming") <= ImgMaxHamming)
      .distinct() // a pair can share multiple blocks
  }

  /** Iteration cap for [[docDupGroups]]: min-label propagation needs
    * one iteration per hop of a component's diameter, and duplicate
    * clusters are near-cliques (diameter 2-3) — 30 is an order of
    * magnitude of headroom, and hitting it is a loud error, not a wrong
    * answer. */
  val MaxCcIterations = 30

  /** Duplicate CLUSTERS from the verified pairs — the step after pair
    * verification in every dedup pipeline: transitively connect
    * confirmed duplicates and elect one canonical document per cluster
    * (the one kept; the rest are dropped from the training set). A pair
    * list alone can't do this — A≈B and B≈C must discard two of
    * {A,B,C}, not two of four pair-sides.
    *
    * Connected components by iterative min-label propagation, the
    * scalable CC shape (GraphX/GraphFrames use the same skeleton): each
    * iteration is one join + one aggregation over the EDGE list, and
    * every structure is proportional to the duplicate pairs, never the
    * corpus. The loop is driver-COORDINATED but not driver-resident: the
    * only values crossing to the driver are the per-iteration
    * changed-row count (the fixpoint test) — labels live in executors,
    * `localCheckpoint` truncating the iterative lineage each round.
    * Iterations are bounded by cluster diameter (near-cliques: 2-3), so
    * the loop runs ~3 rounds at any corpus scale; the canonical label is
    * the component's MIN doc_id — deterministic, engine-independent.
    */
  def docDupGroups(docs: DataFrame): DataFrame =
    clusterPairs(docLshVerifiedDups(docs).select(col("doc_a"), col("doc_b")))
      .withColumnRenamed("id", "doc_id")

  /** Connected components over an undirected pair list `(doc_a, doc_b)`
    * — the shared clustering engine behind [[docDupGroups]] and
    * [[SimilarityOps.embeddingDupGroups]]. Returns `(id, cluster,
    * is_canonical, cluster_size)` with cluster = the component's min id.
    * See [[docDupGroups]] for the scale analysis.
    */
  /** The last [[clusterPairs]] run's final labels RDD. The returned
    * frame reads from it, so it cannot unpersist inside the call; the
    * NEXT call retires it instead, bounding a long-lived session at one
    * cached labels RDD no matter how many CC invocations it makes (a
    * bench run alone makes 12). A retired frame re-run after that point
    * recomputes through RDD lineage — slower, still correct.
    * AtomicReference so retire-and-replace is atomic: two concurrent
    * calls each getAndSet, so no labels RDD is ever unpersisted by BOTH
    * (double-unpersist) or by neither (leak) — the check-then-act on a
    * volatile var this replaces was safe only single-threaded. */
  private val lastCcLabels =
    new java.util.concurrent.atomic.AtomicReference[
      Option[org.apache.spark.rdd.RDD[(Long, Long)]]](None)

  /** Edge-count cap for [[clusterPairs]]' driver-local closure: below
    * it the component fold runs as an in-heap union-find and the result
    * ships back as one local relation; above it the distributed RDD
    * fixpoint runs unchanged. Driver footprint at the cap (r19 ADVICE
    * correction): the 2^20 collected rows are BOXED (Long, Long) tuples
    * plus a boxed HashMap over up to ~2M vertices — realistically
    * 100-300 MB transient, comfortably inside the 8g driver but NOT the
    * ~32 MB a primitive layout would cost; raise the cap only together
    * with a primitive-array union-find. A merge increment's touched subgraph is dup-density
    * bounded and sits far under this at any corpus size; the cap exists
    * for the corpus-cadence closures (staging a 100 TB snapshot), which
    * route distributed. */
  private[graft] val MaxDriverCcEdges: Long = 1L << 20

  /** Driver-local connected components over a collected edge list —
    * union-find with path halving, labels = component min id, then the
    * same size/canonical dressing as the distributed path. Output is
    * row-identical to the RDD fixpoint (min-id labels are
    * representation-independent; locked by the ScalaCheck merge
    * properties, which drive both paths). */
  private def localClusterPairs(spark: SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      var p = parent.get(r)
      while (p != r) { // path halving
        val gp = parent.get(p)
        parent.put(r, gp)
        r = gp
        p = parent.get(r)
      }
      r
    }
    def add(x: Long): Unit =
      if (!parent.containsKey(x)) parent.put(x, x)
    edges.foreach { case (a, b) =>
      add(a); add(b)
      val (ra, rb) = (find(a), find(b))
      // union by min root: the root IS the running component min, so no
      // second min pass is needed
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val ids = parent.keySet().toArray(Array.empty[java.lang.Long])
    val sizes = new java.util.HashMap[Long, Long]()
    ids.foreach { id =>
      val r = find(id.longValue)
      sizes.merge(r, 1L, (a, b) => a + b)
    }
    val rows = ids.map { boxed =>
      val id = boxed.longValue
      val label = find(id)
      (id, label, if (id == label) 1 else 0, sizes.get(label))
    }.toSeq
    spark.createDataFrame(rows)
      .toDF("id", "cluster", "is_canonical", "cluster_size")
  }

  private[operators] def clusterPairs(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // retire the previous run's cached labels (see lastCcLabels)
    lastCcLabels.getAndSet(None).foreach(_.unpersist(blocking = false))
    // Materialize the FORWARD pair list once before symmetrizing: the
    // symmetrization's two reads of `pairs` would otherwise evaluate
    // the candidate generation twice, and for composite callers
    // (xmodal: LSH + image-decode + audio-decode candidate generators)
    // that generation is the expensive part — idle-box wall time hides
    // the recompute behind spare cores, but the doubled CPU is real at
    // cluster scale.
    //
    // The fixpoint loop itself runs on CO-PARTITIONED RDDs with one
    // fixed HashPartitioner, not on DataFrames: an iterative
    // min-propagation re-plans, re-optimizes (AQE), and re-shuffles the
    // SAME tiny tables every round under Catalyst — measured ~0.35 s of
    // pure per-round scheduling at sf0.1 regardless of data size, with
    // checkpoint churn to keep the growing plan tree at bay. With a
    // pinned partitioner the per-round joins against the edge list are
    // narrow (zero exchange — the GraphX execution shape, which is
    // RDD-based for exactly this reason), the only per-round shuffle is
    // the neighbor-min reduce (∝ dup pairs), and there is no plan tree
    // to truncate. All per-round operators are min-folds —
    // commutative, associative, deterministic at any partitioning.
    val fwd = pairs.toDF("doc_a", "doc_b")
      .select(col("doc_a").cast("long"), col("doc_b").cast("long")).persist()
    val nEdges = fwd.count()
    // CAPPED DRIVER HOP (opt r19): a small edge list — a merge
    // increment's touched subgraph, a fixture-scale corpus — closes in
    // microseconds under a local union-find, while the distributed
    // fixpoint pays ~4 near-empty stages of pure scheduling PER ROUND
    // (~0.2 s/round measured at sf0.1, 7-9 rounds per run). Same
    // bounded-driver-artifact discipline as the stream-ANN probe hop
    // ([[SimilarityOps.MaxDriverProbeIds]]): ≤ MaxDriverCcEdges rows
    // collect (boxed — see the cap's scaladoc for the honest driver
    // footprint at the limit), anything
    // larger — a corpus-scale closure at staging cadence — routes
    // through the RDD fixpoint unchanged. Identical output by
    // construction: component min-id labels are partitioning- and
    // algorithm-agnostic (the ScalaCheck merge properties run both
    // paths across the cap).
    if (nEdges <= MaxDriverCcEdges) {
      val es = fwd.as[(Long, Long)].collect() // served from the cache
      fwd.unpersist(blocking = false)
      graft.ObservedMetrics.recordGauge("cc.iterations", 0.0)
      graft.ObservedMetrics.bumpGauge("cc.driver_folds")
      return localClusterPairs(spark, es)
    }
    // SIZE the fixpoint's partitioner to the edge count: every round
    // schedules one task per partition, so a small merge increment
    // (the streaming reconciliation's per-batch subgraph) at full
    // defaultParallelism pays ~32 near-empty tasks × joins × rounds of
    // pure scheduling. ~4k edges per partition keeps partitions beyond
    // memory-trivial while a corpus-scale edge list still fans out to
    // the session's full parallelism; results are partitioning-agnostic
    // (all per-round operators are min-folds — asserted in tests).
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(spark.sparkContext.defaultParallelism,
        (nEdges / 4096L + 1L).toInt)))
    // symmetric edge list keyed by source — its own transpose, so one
    // partitionBy serves every per-round join on either endpoint
    val edges = fwd.as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist()
    // the identity-label first round is folded into initialization:
    // label₀ = min(id, min neighbor) comes from ONE reduce over the
    // symmetric edge list (no join against an identity table), dropping
    // a full round from every clustering run
    var labels = edges
      .reduceByKey(part, (x: Long, y: Long) => math.min(x, y))
      .mapPartitions(_.map { case (id, mn) => (id, math.min(id, mn)) },
        preservesPartitioning = true)
      .persist()
    var iter = 0
    var done = false
    while (!done && iter < MaxCcIterations) {
      // neighbor-min: for each symmetric edge (src → dst), ship
      // label(src) to dst — edges and labels share `part` on src, so
      // the join is narrow; the reduce is the round's one real shuffle
      val nbrMin = edges.join(labels)
        .map { case (_, (dst, lsrc)) => (dst, lsrc) }
        .reduceByKey(part, (x: Long, y: Long) => math.min(x, y))
      // carry the PREVIOUS label through the re-key so the fixpoint
      // probe rides the materializing job as an accumulator instead of
      // a second job per round: the old shape ran next.count() AND a
      // next⋈labels isEmpty probe — 2 driver jobs per round, and at
      // ~10 rounds per clustering run the probe job was pure
      // scheduling overhead on a subgraph this small (opt r19; a
      // task retried under speculation can only OVER-count the
      // accumulator, and `changed` is a boolean).
      val stepped = labels.leftOuterJoin(nbrMin)
        .map { case (id, (l, mn)) => (math.min(l, mn.getOrElse(l)), (id, l)) }
      // POINTER JUMPING: follow the stepped label through the previous
      // round's label table — label ← min(stepped, prev(stepped)) — so
      // chain distances contract multiplicatively and rounds-to-fixpoint
      // drop from O(diameter) to O(log diameter). Cross-modal
      // reconciliation builds chain-heavy components (text cluster ↔
      // media cluster ↔ …: 15 plain-propagation rounds at sf0.1, 9
      // jumped — `cc.iterations` gauge). prev(x) only lags stepped(x)
      // by the round (labels decrease monotonically), so the jump
      // target may be one round staler, never wrong. Every label is a
      // vertex id by construction (labels start at min(id, neighbor)
      // and only ever copy other labels), so the lookup always
      // resolves in practice — but the join is a leftOuter so the
      // stated fallback (a missing id keeps its stepped label) is what
      // the code does, not just what the invariant implies.
      val changedAcc = spark.sparkContext.longAccumulator
      val next = stepped
        .leftOuterJoin(labels)
        .map { case (l, ((id, prev), ll)) =>
          val v = math.min(l, ll.getOrElse(l))
          if (v < prev) changedAcc.add(1L)
          (id, v)
        }
        .partitionBy(part)
        .persist()
      next.count()
      // labels only ever decrease: no id with next < prev ⇒ fixpoint.
      // The count() above ran every stage, so the accumulator is final.
      val changed = changedAcc.value > 0L
      labels.unpersist()
      labels = next
      done = !changed
      iter += 1
    }
    edges.unpersist()
    fwd.unpersist()
    // observability: rounds-to-fixpoint ∝ log component diameter — the
    // gauge a production tier watches before raising MaxCcIterations
    graft.ObservedMetrics.recordGauge("cc.iterations", iter.toDouble)
    if (!done) throw new IllegalStateException(
      s"clusterPairs: no fixpoint after $MaxCcIterations iterations — " +
        "a component's diameter exceeds the cap (raise MaxCcIterations)")
    // back to DataFrame land for the size/canonical dressing (the FINAL
    // labels RDD stays persisted: the returned plan reads from it; the
    // NEXT clusterPairs call retires it — see lastCcLabels). getAndSet:
    // if a concurrent call published between our entry and here, retire
    // ITS labels rather than stranding them.
    lastCcLabels.getAndSet(Some(labels)).foreach(_.unpersist(blocking = false))
    val labelsDf = labels.toDF("id", "label")
    val sizes = labelsDf.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labelsDf.join(sizes, "label")
      .select(
        col("id"),
        col("label").as("cluster"),
        (col("id") === col("label")).cast("int").as("is_canonical"),
        col("cluster_size"))
  }

  /** INCREMENTAL cluster reconciliation — the `incr_dedup` analog at
    * the CLUSTER layer: fold an admitted increment's NEW dup edges into
    * an existing cluster assignment touching only the AFFECTED
    * clusters, instead of re-running the full CC fixpoint over the
    * corpus per snapshot. `groups` is a prior closure in the
    * [[stagedCrossModalGroups]]/[[stagedDupGroups]] shape `(doc_id,
    * cluster, is_canonical, cluster_size)`; `newEdges` any `(a, b)`
    * pair frame (a modality generator's increment output, a linked
    * cross-modal batch).
    *
    * Shape: affected = every cluster incident to a new-edge endpoint;
    * each affected cluster's connectivity is reconstructed as STAR
    * edges (member → cluster label — the label is itself a member, the
    * component's min id, so the star spans exactly the old component);
    * new edges ∪ stars re-close through the same fixpoint; unaffected
    * clusters pass through untouched, then labels/sizes/canonicals come
    * from the re-closure. EQUAL to the from-scratch closure over
    * (old edges ∪ new edges) for any edge set whose closure `groups`
    * is — components no new edge reaches cannot change, and within
    * reached ones the stars preserve membership while min-label picks
    * the same representative (spec-locked by a ScalaCheck property).
    *
    * Scale shape: cost ∝ the increment's dup density — the touched
    * clusters' member lists and the new edges, never the corpus's full
    * assignment: affected-cluster selection is two BROADCAST semi-joins
    * on (id, cluster) scalars (the build sides — new-edge endpoints and
    * the clusters they land in — are bounded by the increment, so the
    * data-proportional assignment side never shuffles; plan-guarded in
    * PlanSpec), and the RDD fixpoint runs on the touched subgraph
    * only. */
  def mergeClusterIncrement(groups: DataFrame, newEdges: DataFrame): DataFrame = {
    val g = assignmentOf(groups)
    val (touched, _, reclosed) = touchedReclosure(g, newEdges)
    g.join(broadcast(touched), Seq("cluster"), "left_anti")
      .unionByName(reclosed)
  }

  /** The DELTA of [[mergeClusterIncrement]]: ONLY the re-closed rows —
    * every member of every touched cluster plus the new endpoints,
    * with their post-merge (cluster, is_canonical, cluster_size). The
    * streaming reconciliation's per-epoch sink writes exactly this
    * (O(touched) rows, never the corpus assignment) and serves
    * base ∪ deltas through [[servedClusterAssignment]] — the `ann_seg`
    * LSM discipline lifted to the cluster layer: overlay-served view =
    * [[mergeClusterIncrement]]'s full rewrite, because a row changes
    * cluster/size/canonical ONLY by being a member of a touched
    * cluster, and every such member appears in the delta (the stars
    * span the whole old component). */
  def mergeClusterIncrementDelta(groups: DataFrame, newEdges: DataFrame): DataFrame =
    touchedReclosure(assignmentOf(groups), newEdges)._3

  private def assignmentOf(groups: DataFrame): DataFrame = groups.select(
    col("doc_id"), col("cluster"), col("is_canonical"), col("cluster_size"))

  /** Touched-cluster selection + star re-closure shared by the full
    * merge and the delta variant, returning
    * `(touched clusters, star edges, re-closed assignment)`. Exposed
    * `private[graft]` so PlanSpec can assert the selection's scale
    * shape on the ACTUAL frames (broadcast semi-joins, no sort-merge of
    * the assignment side) without duplicating the construction. */
  private[graft] def touchedReclosure(g: DataFrame,
      newEdges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val edges = canonMergeEdges(newEdges)
    val verts = mergeEdgeEndpoints(edges)
    val touched = g.join(broadcast(verts), "doc_id")
      .select("cluster").distinct()
    val affected = g.join(broadcast(touched), "cluster")
    val (stars, reclosed) = starsReclosure(affected, edges)
    (touched, stars, reclosed)
  }

  private def canonMergeEdges(newEdges: DataFrame): DataFrame =
    newEdges.toDF("a", "b")
      .select(col("a").cast("long"), col("b").cast("long"))

  private def mergeEdgeEndpoints(edges: DataFrame): DataFrame =
    edges.select(col("a").as("doc_id"))
      .union(edges.select(col("b").as("doc_id"))).distinct()

  /** Star re-construction + re-closure shared by the generic and the
    * staged touched-selection — ONE definition so the spec-locked
    * row-equality between the two merge paths cannot drift: star edges
    * are (member, label) for non-label members (the label is itself a
    * member, so the star reconstructs the component exactly), and the
    * re-closure runs stars ∪ new edges through the CC fixpoint. */
  private def starsReclosure(affected: DataFrame,
      edges: DataFrame): (DataFrame, DataFrame) = {
    val stars = affected.filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as("a"), col("cluster").as("b"))
    val reclosed = clusterPairs(edges.union(stars).distinct())
      .withColumnRenamed("id", "doc_id")
    (stars, reclosed)
  }

  /** [[mergeClusterIncrementDelta]] served from the STAGED, partition-
    * keyed assignment — the per-micro-batch form the streaming
    * reconciliation runs. The generic variant's touched-selection
    * broadcasts its bounded build sides so the assignment never
    * shuffles, but it still SCANS the full assignment twice per batch —
    * at 10^9 docs that is an O(corpus) read per new edge (r15 verdict
    * #6). Here both selections PRUNE at the partition layer instead:
    *
    *  - endpoint lookup reads only the `db` partitions of
    *    [[xmDocIdxDir]] holding the batch's new-edge endpoints (the
    *    batch's distinct bucket list is collected to the driver —
    *    bounded by [[DocBucketParts]], an index constant, never by
    *    data — the [[incrementalDedupBatch]] pruned-probe discipline);
    *  - member expansion reads only the `cb` partitions of
    *    [[xmClusterIdxDir]] holding the touched clusters (bounded by
    *    [[XmClusterParts]]).
    *
    * The un-compacted delta overlay is read whole per batch — bounded
    * by the re-stage cadence, never the corpus — and newest-wins
    * shadowing is applied exactly as [[servedClusterAssignment]] does
    * it (broadcast anti-join on the bounded delta ids), so the result
    * row-equals `mergeClusterIncrementDelta(servedClusterAssignment(
    * base, deltaRoot, excludeEpoch), newEdges)` (spec-locked). The
    * touched-cluster set checkpoints through the rotated candidate dir
    * before its three consumers (the [[incrementalDedupBatch]]
    * discipline) — without it each consumer re-ran the whole pruned
    * endpoint selection. */
  def mergeClusterIncrementDeltaStaged(spark: SparkSession, sfDir: String,
      deltaRoot: String, excludeEpoch: Option[Long],
      newEdges: DataFrame): DataFrame =
    touchedReclosureStaged(spark, sfDir, deltaRoot, excludeEpoch, newEdges)._3

  /** The FROZEN-DIR form for long-lived streaming frames: the caller
    * resolves both probe-projection dirs ONCE at stream start and every
    * micro-batch reads those paths — an in-place corpus rewrite
    * mid-stream must NOT swing the batch body onto a rebuilt snapshot
    * while the overlay epochs and the final election still read the
    * frozen base (the memo-keyed form would, silently: the stamp change
    * re-derives on next access — review r16). */
  private[graft] def mergeClusterIncrementDeltaStagedAt(spark: SparkSession,
      sfDir: String, docIdx: java.nio.file.Path,
      clusterIdx: java.nio.file.Path, deltaRoot: String,
      excludeEpoch: Option[Long], newEdges: DataFrame,
      dbsHint: Option[Seq[Int]] = None): DataFrame =
    touchedReclosureStagedAt(spark, sfDir, docIdx, clusterIdx, deltaRoot,
      excludeEpoch, newEdges, dbsHint)._3

  /** The pruned touched-selection + star re-closure behind
    * [[mergeClusterIncrementDeltaStaged]] — `private[graft]` like
    * [[touchedReclosure]] so PlanSpec can assert BOTH partition prunes
    * and the broadcast-only join shape on the actual frames. Returns
    * the LIVE (pre-checkpoint) touched selection as `_1` — the plan the
    * checkpoint write evaluates, where the db-prune is visible; `_2`
    * (stars) carries the cb-pruned member expansion. EAGER: the
    * checkpoint write runs here, so the call itself costs one job. */
  private[graft] def touchedReclosureStaged(spark: SparkSession,
      sfDir: String, deltaRoot: String, excludeEpoch: Option[Long],
      newEdges: DataFrame): (DataFrame, DataFrame, DataFrame) =
    touchedReclosureStagedAt(spark, sfDir, xmDocIdxDir(spark, sfDir),
      xmClusterIdxDir(spark, sfDir), deltaRoot, excludeEpoch, newEdges)

  private[graft] def touchedReclosureStagedAt(spark: SparkSession,
      sfDir: String, docIdx: java.nio.file.Path,
      clusterIdx: java.nio.file.Path, deltaRoot: String,
      excludeEpoch: Option[Long],
      newEdges: DataFrame,
      // the streaming body rides this bounded set on its emptiness-gate
      // count as an observed collect_set over both endpoint columns
      // (opt r20) — exactly the set the collect below derives, since
      // canonMergeEdges only renames/casts
      dbsHint: Option[Seq[Int]] = None): (DataFrame, DataFrame, DataFrame) = {
    val edges = canonMergeEdges(newEdges)
    val verts = mergeEdgeEndpoints(edges)
    // bounded driver artifact: ≤ DocBucketParts ints, an index constant
    val dbs = dbsHint.getOrElse(verts
      .select(Hashing.md5Bucket(col("doc_id"), DocBucketParts)
        .cast("int").as("db"))
      .distinct().collect().map(_.getInt(0)).toSeq)
    // the newest-wins overlay view checkpoints ONCE per batch: four
    // plan branches consume it (two anti-join builds, the endpoint
    // union, the affected union), and un-materialized each re-ran the
    // overlay scan + max_by aggregation (review r16). COMPACTION-
    // CADENCE DEPENDENCY (ADVICE r16): this single-task write is
    // O(un-compacted overlay) per micro-batch — bounded by
    // [[maybeCompactClusterDeltas]] (≤ XmCompactEpochs epoch dirs +
    // one collapsed delta, so ≈ O(live overlay)), which the stream's
    // maintenance turn runs per epoch; without that fold it would grow
    // with stream age until the corpus re-stage
    // the COLLAPSED delta (tombstone flag kept): the shadow set needs
    // every delta id including tombstones, while the union legs below
    // take only the live rows — one materialization serves both
    val deltas = rawClusterDeltas(spark, deltaRoot, excludeEpoch).map { raw =>
      val dDir = nextCandDir(s"xmd:$sfDir", "graft_xm_newest_")
      val collapsed = collapsedClusterDelta(raw)
      collapsed.coalesce(1)
        .write.mode("overwrite").parquet(dDir.toString)
      // declared schema (the frame just written): a bare read re-ran
      // footer inference — one job per micro-batch (opt r20)
      spark.read.schema(collapsed.schema).parquet(dDir.toString)
    }
    // base rows shadowed by ANY delta row drop — updates and
    // tombstones alike (a retracted doc must not re-enter the merge as
    // its stale base row) — the servedClusterAssignment anti-join
    // discipline; build side is the bounded un-compacted delta id set
    def unshadowed(df: DataFrame): DataFrame = deltas match {
      case None => df
      case Some(d) =>
        df.join(broadcast(d.select("doc_id")), Seq("doc_id"), "left_anti")
    }
    // explicit schemas on both projection reads: a corpus with NO base
    // dup clusters stages EMPTY projections, and schema inference fails
    // on a data-file-less dir (caught by the staged-merge ScalaCheck
    // property's empty-base case); the declared types also pin the
    // partition columns INT so the isin literals prune without casts
    def idxSchema(key: String) = org.apache.spark.sql.types.StructType
      .fromDDL("doc_id BIGINT, cluster BIGINT, is_canonical INT, " +
        s"cluster_size BIGINT, $key INT")
    val endpointBase = unshadowed(
      spark.read.schema(idxSchema("db")).parquet(docIdx.toString)
        .filter(col("db").isin(dbs: _*))
        .join(broadcast(verts), "doc_id"))
      .select("cluster")
    val touchedLive = (deltas match {
      case None => endpointBase
      case Some(d) => endpointBase.unionByName(
        liveClusterDelta(d).join(broadcast(verts), "doc_id").select("cluster"))
    }).distinct()
    // checkpoint the touched-cluster set (dup-density-bounded, one
    // scalar per row) before its consumers: the cb-bucket collect and
    // the member-expansion broadcast builds would each re-run the
    // pruned endpoint selection otherwise — the candidate-list
    // checkpoint discipline (incrementalDedupBatch), applied where the
    // stage really is evaluated more than once
    val tDir = nextCandDir(s"xm:$sfDir", "graft_xm_touched_")
    // second bounded driver artifact (≤ XmClusterParts ints): rides the
    // touched-set checkpoint write as an observed collect_set instead
    // of a separate post-write distinct job (opt r20)
    val cbObs = org.apache.spark.sql.Observation()
    // coalesce(1): the set is bounded scalars — 32 near-empty commit
    // tasks per micro-batch would cost more than the write itself
    touchedLive
      .observe(cbObs, collect_set(
        Hashing.md5Bucket(col("cluster"), XmClusterParts).cast("int"))
        .as("cbs"))
      .coalesce(1).write.mode("overwrite").parquet(tDir.toString)
    val cbs = cbObs.get("cbs").asInstanceOf[Seq[Int]]
    // declared schema (one `cluster BIGINT` column, the frame just
    // written) — skips the per-batch footer-inference job (opt r20)
    val touched = spark.read.schema(touchedLive.schema).parquet(tDir.toString)
    val affectedBase = unshadowed(
      spark.read.schema(idxSchema("cb")).parquet(clusterIdx.toString)
        .filter(col("cb").isin(cbs: _*))
        .join(broadcast(touched), "cluster"))
      .select(col("doc_id"), col("cluster"))
    val affected = deltas match {
      case None => affectedBase
      case Some(d) => affectedBase.unionByName(
        liveClusterDelta(d).join(broadcast(touched), "cluster")
          .select(col("doc_id"), col("cluster")))
    }
    val (stars, reclosed) = starsReclosure(affected, edges)
    (touchedLive, stars, reclosed)
  }

  /** The cluster-assignment OVERLAY READ — `SimilarityOps.servedIndex`
    * for the cluster layer: serve `base` ∪ the epoch-keyed delta dirs
    * under `deltaRoot` (each written by
    * [[mergeClusterIncrementDelta]]), newest epoch wins per `doc_id`,
    * base rows shadowed by any delta row anti-join away. The anti-join
    * build side is delta doc_ids only — bounded by the un-compacted
    * increment set (the re-stage cadence bounds it, exactly as
    * compaction bounds the ANN segment overlay) — so it BROADCASTS and
    * the base side never shuffles.
    *
    * `excludeEpoch` closes the foreachBatch REPLAY hazard (ADVICE r15):
    * a replayed epoch (written, then the checkpoint commit died) must
    * not read the serving view THROUGH its own half-trusted dir while
    * overwriting that dir — the epoch filter sits on the partition
    * column, DECLARED BIGINT in the read schema (partition inference
    * would type small epoch values INT, and a Long literal against an
    * Int partition attribute inserts a widening cast that defeats
    * pruning, while truncating the literal silently stops excluding
    * once epoch ids pass Int.MaxValue — review r16), so partition
    * PRUNING applies, the doomed files are never even listed, and the
    * replay reads exactly the pre-epoch view.
    *
    * LOCAL-FILESYSTEM precondition: `deltaRoot` is listed with
    * `java.io` (the host-local sidecar discipline —
    * see [[registerClusterDeltas]]). */
  def servedClusterAssignment(spark: SparkSession, base: DataFrame,
      deltaRoot: String, excludeEpoch: Option[Long] = None): DataFrame =
    rawClusterDeltas(spark, deltaRoot, excludeEpoch) match {
      case None => base
      case Some(deltas) =>
        // shadow by ALL delta ids (updates AND tombstones: a retracted
        // doc drops its base row with nothing replacing it — r17
        // verdict's deletion gap); union only the LIVE collapsed rows
        assignmentOf(base)
          .join(broadcast(deltas.select("doc_id").distinct()),
            Seq("doc_id"), "left_anti")
          .unionByName(newestClusterDelta(deltas))
    }

  /** The raw epoch-keyed delta rows under `deltaRoot`, `excludeEpoch`
    * partition-pruned out — None when no epoch dir exists (the zero-
    * plan-change serving case). Shared by the full overlay read and the
    * staged touched-selection. */
  private def rawClusterDeltas(spark: SparkSession, deltaRoot: String,
      excludeEpoch: Option[Long]): Option[DataFrame] = {
    val hasDeltas = graft.util.EpochDirs.list(deltaRoot).nonEmpty
    if (!hasDeltas) None
    else {
      // `deleted` is declared even though most epochs never write it:
      // parquet fills the missing column with NULL, normalized to
      // false at every collapse — only tombstone epochs
      // ([[tombstoneClusterDocs]]) and post-fold collapsed dirs carry
      // it physically
      val raw = spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, cluster BIGINT, is_canonical INT, " +
            "cluster_size BIGINT, deleted BOOLEAN, epoch BIGINT"))
        .parquet(deltaRoot)
      Some(excludeEpoch
        .map(e => raw.filter(col("epoch") =!= lit(e)))
        .getOrElse(raw))
    }
  }

  /** TOMBSTONE-DOMINANT collapse of the delta rows: one row per delta
    * doc_id, keeping the `deleted` flag — a tombstone wins over any
    * live row regardless of epoch order (terminal-delete: a retracted
    * doc must not be resurrected by the relative ordering of its
    * retraction and an earlier re-assignment; un-deleting is the corpus
    * re-stage's job). Among same-flag rows, newest epoch wins as
    * before. */
  private def collapsedClusterDelta(deltas: DataFrame): DataFrame =
    deltas.groupBy("doc_id").agg(
      max_by(struct(col("cluster"), col("is_canonical"),
        col("cluster_size"),
        coalesce(col("deleted"), lit(false)).as("deleted")),
        struct(coalesce(col("deleted"), lit(false)).cast("int").as("d"),
          col("epoch").as("e"))).as("s"))
      .select(col("doc_id"), col("s.cluster").as("cluster"),
        col("s.is_canonical").as("is_canonical"),
        col("s.cluster_size").as("cluster_size"),
        col("s.deleted").as("deleted"))

  /** The LIVE collapsed delta view (one row per surviving delta
    * doc_id): [[collapsedClusterDelta]] minus tombstoned docs — the
    * union side of every overlay read. Shadow sets (anti-join builds)
    * must use the FULL id set instead: a tombstoned doc shadows its
    * base row even though nothing replaces it. */
  private def newestClusterDelta(deltas: DataFrame): DataFrame =
    liveClusterDelta(collapsedClusterDelta(deltas))

  /** Drop tombstoned rows from an already-collapsed delta frame. */
  private def liveClusterDelta(collapsed: DataFrame): DataFrame =
    collapsed.filter(!coalesce(col("deleted"), lit(false))).drop("deleted")

  /** [[mergeClusterIncrement]] wired to the staged cross-modal
    * assignment — the ingestion-cadence entry point: an admitted
    * increment's new (already-linked) doc-pair edges fold into
    * [[stagedCrossModalGroups]] without re-running the full modality
    * square or the corpus-wide fixpoint. The result is the SERVING view
    * for the interval between snapshot re-stages; the staged artifact
    * itself re-derives on its own cadence (the compaction contract all
    * the staged indexes share). */
  def mergeCrossModalIncrement(spark: SparkSession, sfDir: String,
      newEdges: DataFrame): DataFrame =
    mergeClusterIncrement(stagedCrossModalGroups(spark, sfDir), newEdges)

  // ---------------------------------------------------------------------
  // Cross-modal cluster overlay lifecycle — the append / staleness /
  // re-stage contract the other three index families have
  // (text probe indexes, media fingerprint index, ANN segments), for
  // the CLUSTER layer: the streaming reconciliation's delta epochs are
  // the "appends", [[xmMergedFraction]] the arithmetic staleness gauge,
  // [[maybeRestageCrossModal]] the compaction trigger.
  // ---------------------------------------------------------------------

  private val XmDeltaFamily = "xm_deltas"
  private val XmTables = TextTables

  /** Publish a delta-overlay root as the serving registration of record
    * for this corpus's cross-modal assignment — the
    * `registerIndexSegments` sibling. The BASE assignment's row count
    * is measured ONCE here (a registration-time scan, never a
    * monitoring-time one) so [[xmMergedFraction]] is pure manifest
    * arithmetic afterwards. The root dir is CREATED here if absent —
    * registration typically precedes the first epoch write, and a
    * not-yet-existing dir would otherwise be swept as dead by the very
    * first self-healing read (review r16). LOCAL-FILESYSTEM
    * PRECONDITION: `deltaRoot` (like every registration in the
    * [[graft.util.ServingManifest]] sidecar, which lives in the host
    * temp tree) must be a local dir — the existence self-heal and the
    * overlay read's epoch listing are `java.nio`/`java.io` calls; an
    * object-store overlay would swap the registry, not this API. */
  def registerClusterDeltas(spark: SparkSession, sfDir: String,
      deltaRoot: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(deltaRoot))
    // a fresh registration wrote a manifest entry without the "epochs"
    // gauge — drop the skip cache so the next maintenance turn re-seeds it
    epochGaugeCache.remove(deltaRoot)
    // the base count is a property of the staged ARTIFACT, not of the
    // registration: memo it per staged generation dir (a re-stage lands
    // in a fresh temp dir, so a fresh generation re-counts) instead of
    // spending one Spark job per register call (opt r19 — every
    // xm_served/stream_xm invocation registers)
    val base = stagedBaseCrossModalGroups(spark, sfDir)
    val baseRows = xmodalBaseDirs.peek(sfDir) match {
      case Some(dir) =>
        xmBaseRowCounts.computeIfAbsent(dir, _ => base.count()).longValue
      case None => base.count()
    }
    graft.util.ServingManifest.put(sfDir, XmDeltaFamily, XmTables,
      Map("deltaRoot" -> deltaRoot, "baseRows" -> baseRows.toString,
        "deltaRows" -> "0"))
  }

  /** Row count per staged base-assignment generation dir (see
    * [[registerClusterDeltas]]) — bounded at one entry per staged
    * generation this JVM ever resolves. */
  private val xmBaseRowCounts =
    new java.util.concurrent.ConcurrentHashMap[java.nio.file.Path, java.lang.Long]()

  /** Bump the registered overlay's delta-row counter after an epoch
    * write — conditional on `deltaRoot` still being the registration of
    * record AND `epochId` exceeding the registration's high-water mark,
    * in ONE manifest lock ([[graft.util.ServingManifest
    * .addCounterIfNewEpoch]]): an epoch landing after the registration
    * was retired (or swapped by another JVM) must not resurrect or skew
    * the new registration's gauge, and a REPLAYED epoch (idempotent
    * sink overwrite) must not double-count its rows. No-ops (false)
    * when unregistered or replayed. */
  def noteClusterDeltaAppend(sfDir: String, deltaRoot: String,
      rows: Long, epochId: Long): Boolean =
    graft.util.ServingManifest.addCounterIfNewEpoch(sfDir, XmDeltaFamily,
      XmTables, "deltaRoot", deltaRoot, "deltaRows", rows,
      "lastEpoch", epochId)

  /** RETRACTION (takedown / right-to-be-forgotten) at increment cadence
    * — the cluster layer's tombstone writer, the
    * [[graft.operators.SimilarityOps.tombstoneSegmentRows]] sibling:
    * one delta epoch of `deleted = true` rows for `docIds`
    * (`doc_id BIGINT`). From the next overlay read on, the retracted
    * doc is out of [[servedClusterAssignment]] (its base row shadows
    * away, nothing replaces it — the doc LEAVES its cross-modal group
    * while the group's other members keep serving) and out of the
    * merge's affected-row inputs; [[maybeCompactClusterDeltas]] carries
    * the tombstone through folds; the corpus re-stage absorbs it.
    * Terminal at increment cadence: re-admitting the doc requires the
    * re-stage, not a later epoch (the [[collapsedClusterDelta]]
    * dominance rule). Payload columns are typed NULLs — no reader
    * dereferences them past the live filter. */
  def tombstoneClusterDocs(spark: SparkSession, sfDir: String,
      deltaRoot: String, docIds: DataFrame, epochId: Long): Unit = {
    // the append counter's row count rides the write job as an observed
    // metric (r18 verdict: the eager docIds.count() here cost one extra
    // Spark job per retraction solely to feed the counter)
    val obs = org.apache.spark.sql.Observation(s"tomb_rows_$epochId")
    docIds.select(col("doc_id").cast("long").as("doc_id"),
        lit(null).cast("long").as("cluster"),
        lit(null).cast("int").as("is_canonical"),
        lit(null).cast("long").as("cluster_size"),
        lit(true).as("deleted"))
      .observe(obs, count(lit(1)).as("n"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$deltaRoot/epoch=$epochId")
    val n = obs.get("n").asInstanceOf[Long]
    noteClusterDeltaAppend(sfDir, deltaRoot, n, epochId)
    ()
  }

  /** The overlay root currently registered for `sfDir`, provided its
    * dir still exists (a dead JVM's retired temp root drops the stale
    * registration — the `registeredSegmentRoot` self-healing). The heal
    * is a CONDITIONAL removal ([[graft.util.ServingManifest.removeIf]]):
    * an unconditional remove after an unlocked get would delete a fresh
    * registration another JVM installed between the two — the exact
    * two-lock race removeIf exists for (review r16). */
  def registeredClusterDeltaRoot(sfDir: String): Option[String] =
    graft.util.ServingManifest.get(sfDir, XmDeltaFamily, XmTables)
      .get("deltaRoot") match {
      case Some(r) if java.nio.file.Files
          .isDirectory(java.nio.file.Paths.get(r)) => Some(r)
      case Some(r) =>
        retireClusterDeltas(sfDir, r)
        None
      case None => None
    }

  /** The cross-modal assignment every consumer should read between
    * snapshot re-stages: the staged BASE closure ∪ the registered delta
    * overlay, newest epoch wins ([[servedClusterAssignment]]) — or the
    * base alone when nothing is registered (zero plan change, the
    * `servedIndex` contract). */
  def servedCrossModalGroups(spark: SparkSession, sfDir: String): DataFrame = {
    val base = stagedBaseCrossModalGroups(spark, sfDir)
    registeredClusterDeltaRoot(sfDir) match {
      case None => base
      case Some(root) => servedClusterAssignment(spark, base, root)
    }
  }

  /** Staleness gauge for the cluster layer: the fraction of the served
    * assignment's rows that entered via delta epochs — pure manifest
    * arithmetic (deltaRows / (baseRows + deltaRows)), resolve-never-
    * build, 0.0 under pure serving. A doc re-touched in two epochs
    * counts twice in the numerator — a monotone staleness PROXY's
    * acceptable skew (the [[mediaIndexStaleFraction]] admission-contract
    * caveat), never a correctness input. */
  def xmMergedFraction(spark: SparkSession, sfDir: String): Double = {
    // ONE manifest read: existence-check and counters must come from the
    // SAME registration snapshot, or a concurrent retire-and-re-register
    // mixes one registration's liveness with another's counters
    val m = graft.util.ServingManifest.get(sfDir, XmDeltaFamily, XmTables)
    m.get("deltaRoot") match {
      case Some(r) if java.nio.file.Files
          .isDirectory(java.nio.file.Paths.get(r)) =>
        val d = m.get("deltaRows").map(_.toLong).getOrElse(0L)
        if (d == 0) 0.0
        else d.toDouble /
          (m.get("baseRows").map(_.toLong).getOrElse(0L) + d).toDouble
      case _ => 0.0
    }
  }

  /** Staleness-triggered RE-STAGE for the cluster layer — the shared
    * COMPACTION CONTRACT ([[maybeRestageMediaIndex]] /
    * [[maybeRestageTextIndexes]]): when the merged-in fraction exceeds
    * `threshold`, rebuild the base closure from the CORPUS SNAPSHOT
    * alone (in production the snapshot has absorbed the admitted
    * increments, so the full closure covers them) and retire the delta
    * registration — un-compacted deltas DROP, exactly as appended index
    * rows drop at an index re-stage. Returns whether a re-stage ran. */
  def maybeRestageCrossModal(spark: SparkSession, sfDir: String,
      threshold: Double): Boolean = {
    val stale = xmMergedFraction(spark, sfDir)
    graft.ObservedMetrics.recordGauge("xm.merged_fraction", stale)
    if (stale <= threshold) false
    else {
      val root = registeredClusterDeltaRoot(sfDir)
      xmodalBaseDirs.invalidate(sfDir)
      xmDocIdxDirs.invalidate(sfDir)
      xmClusterIdxDirs.invalidate(sfDir)
      stagedBaseCrossModalGroups(spark, sfDir) // eager: serving never
      xmDocIdxDir(spark, sfDir)                // races a half-build —
      xmClusterIdxDir(spark, sfDir)            // base + both probe
      root.foreach { r =>                      // keyings rebuild here
        graft.util.ServingManifest.removeIf(sfDir, XmDeltaFamily, XmTables,
          "deltaRoot", r,
          alsoRemove = Seq("deltaRows", "baseRows", "lastEpoch", "epochs"))
      }
      true
    }
  }

  /** Retire the registration for exactly `deltaRoot` — compare-and-
    * delete under one manifest lock with the measurement keys riding in
    * the same write (the by-root `dropIndexSegments` discipline): a key
    * that published its own overlay drops exactly that, never a
    * registration another serve path installed after it. */
  def retireClusterDeltas(sfDir: String, deltaRoot: String): Boolean =
    graft.util.ServingManifest.removeIf(sfDir, XmDeltaFamily, XmTables,
      "deltaRoot", deltaRoot,
      alsoRemove = Seq("deltaRows", "baseRows", "lastEpoch", "epochs"))

  /** Retire any cluster-delta registration for `sfDir` — hermeticity
    * drop for Bench/Verify startup and test isolation (the
    * `dropIndexSegments` sibling). */
  def dropClusterDeltas(sfDir: String): Unit =
    graft.util.ServingManifest.remove(sfDir, XmDeltaFamily)

  /** Epoch-count trigger at which [[maybeCompactClusterDeltas]] folds —
    * past K epochs, every serve and every per-batch overlay read pays
    * O(Σ delta rows) across K+ dirs where one collapsed delta would be
    * O(live overlay); below it, the fold's own write would cost more
    * than it saves. */
  val XmCompactEpochs = 8

  /** INTRA-OVERLAY MINOR COMPACTION for the cluster-delta overlay — the
    * LSM step BETWEEN per-epoch appends and the corpus-cadence re-stage
    * (which it does not replace: [[maybeRestageCrossModal]] still drops
    * the whole overlay when the merged fraction crosses its threshold).
    * Verdict r16: without this, a long-running stream between corpus
    * snapshots pays O(Σ delta rows over ALL epochs) per micro-batch
    * (the overlay checkpoint in [[touchedReclosureStagedAt]] and every
    * [[servedClusterAssignment]] re-collapse accumulated history); the
    * fold keeps both O(live overlay + maxEpochs recent epochs).
    *
    * Also the per-call EPOCH GAUGE: records the overlay's epoch-dir
    * count (`xm.delta_epochs` + the registration's `epochs` manifest
    * key — one local listing, no Spark job) whether or not a fold runs.
    * When the count exceeds `maxEpochs`, every epoch EXCEPT THE NEWEST
    * folds into ONE newest-wins delta ([[newestClusterDelta]]) landed in
    * the highest FOLDED epoch's dir, and the older dirs drop. The newest
    * epoch stays out because it is the only epoch a foreachBatch replay
    * can rewrite: `excludeEpoch` prunes it BY ID, and folding its rows
    * into a dir keyed by another id would leak the half-trusted rows
    * past the exclusion.
    *
    * CRASH-SAFE AT EVERY STEP, without a journal, because this overlay
    * is only ever consumed through the newest-wins collapse: (1) the
    * collapsed rows write to a hidden `.compact_*` scratch (Spark
    * listings skip dot-dirs — readers never see the half-written fold);
    * (2) the scratch's data files MOVE one by one into `epoch=<foldMax>`
    * — each collapsed row either DOMINATES every folded row it
    * summarizes (it carries the max folded epoch) or ties value-equal
    * with foldMax's own row, so any prefix of the moves leaves the
    * served view unchanged; (3) only then do the shadowed originals and
    * the older epoch dirs delete — every deletion removes rows the
    * collapsed files already dominate. An interrupted compaction leaves
    * extra shadowed rows and a swept-on-next-entry scratch dir, never a
    * changed view. (The ANN segment compactor CANNOT make this
    * guarantee — its read path is a plain union — see
    * [[graft.operators.SimilarityOps.maybeCompactIndexSegments]].)
    *
    * Manifest bookkeeping rides a conditional write keyed by the
    * registration root ([[graft.util.ServingManifest.setIf]]): the
    * delta-row counter resets to the PHYSICAL post-fold count (the
    * collapse de-duplicates re-touched docs, so the staleness gauge gets
    * MORE accurate, never staler), the epoch gauge drops to 2, and an
    * unregistered or swapped-out root no-ops the bookkeeping while the
    * file fold still applies. Returns whether a fold ran. */
  def maybeCompactClusterDeltas(spark: SparkSession, sfDir: String,
      deltaRoot: String, maxEpochs: Int = XmCompactEpochs): Boolean = {
    val epochs = graft.util.EpochDirs.list(deltaRoot)
    graft.ObservedMetrics.recordGauge("xm.delta_epochs", epochs.size.toDouble)
    // manifest epoch gauge only when the count CHANGED (r17 verdict #3):
    // the un-triggered per-micro-batch turn must not serialize an
    // OS-file-locked read-modify-write into the stream
    val prevGauge = epochGaugeCache.put(deltaRoot, epochs.size)
    if (prevGauge == null || prevGauge.intValue != epochs.size)
      graft.util.ServingManifest.setIf(sfDir, XmDeltaFamily, XmTables,
        "deltaRoot", deltaRoot, Map("epochs" -> epochs.size.toString))
    if (epochs.size <= maxEpochs || epochs.size < 3) false
    else {
      graft.util.EpochDirs.sweepScratch(deltaRoot)
      val newest = epochs.last
      val foldMax = epochs(epochs.size - 2)
      val folded = rawClusterDeltas(spark, deltaRoot, Some(newest)).get
      val scratch = graft.util.EpochDirs.scratch(deltaRoot)
      // the COLLAPSED delta, tombstones included: the fold must CARRY a
      // retraction (dropping it would un-shadow the doc's base row and
      // resurrect it) — tombstones leave the overlay only at the corpus
      // re-stage. Dominance safety is unchanged: a collapsed tombstone
      // row dominates every row it summarizes under the tombstone-
      // dominant read collapse exactly as a live row does under
      // newest-wins.
      collapsedClusterDelta(folded).write.parquet(scratch.toString)
      val target = java.nio.file.Paths.get(deltaRoot, s"epoch=$foldMax")
      val shadowed = graft.util.EpochDirs.dataFilesIn(target)
      graft.util.EpochDirs.dataFilesIn(scratch).foreach(f =>
        java.nio.file.Files.move(f, target.resolve(f.getFileName)))
      shadowed.foreach(f => java.nio.file.Files.deleteIfExists(f))
      epochs.dropRight(2).foreach(e =>
        graft.util.EpochDirs.drop(deltaRoot, e))
      graft.util.TempDirs.deleteNow(scratch)
      // physical recount (one cheap job over collapsed + newest): the
      // counter's append semantics resume on top via addCounterIfNewEpoch
      val total = rawClusterDeltas(spark, deltaRoot, None)
        .map(_.count()).getOrElse(0L)
      epochGaugeCache.put(deltaRoot, 2)
      graft.util.ServingManifest.setIf(sfDir, XmDeltaFamily, XmTables,
        "deltaRoot", deltaRoot,
        Map("deltaRows" -> total.toString, "epochs" -> "2"))
      graft.ObservedMetrics.bumpGauge("xm.delta_folds")
      true
    }
  }

  /** Last epoch count written to the manifest per delta root — the
    * steady-state skip for the per-micro-batch gauge write (r17 verdict
    * #3; the [[graft.operators.SimilarityOps]] sibling). */
  private val epochGaugeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** The BATCH overlay-serve leg of the cluster layer — `ann_seg`'s
    * register → serve-through-the-overlay → retire shape for cluster
    * assignments, completing the layer's serving triad (snapshot
    * build+elect = `xmodal`, batch overlay serve = this `xm_served`,
    * stream overlay serve = `stream_xm`): publish a delta-overlay
    * registration, fold the staged edge topic's verified cross edges in
    * as ONE delta epoch (the ingestion-cadence batch form — O(touched)
    * written, [[mergeClusterIncrementDelta]]), then read the serving
    * view THROUGH the registration ([[servedCrossModalGroups]]: base ∪
    * delta epochs, newest-wins) and elect. Registration retires in
    * `finally` (by root, conditional) so the key leaves no global
    * serving state; the served plan keeps reading the delta dirs
    * directly — retirement ends the bookkeeping, never the plan.
    * Oracle: identical to `stream_xm`'s (the from-scratch closure over
    * every edge except new×new) — the overlay read reconstructs exactly
    * the full merge (CapSpec's epoch-split property). */
  def xmServedContract(spark: SparkSession, sfDir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft_xm_serve_")
    graft.util.TempDirs.track(root)
    registerClusterDeltas(spark, sfDir, root.toString)
    try {
      // the GENERIC merge on purpose: this key folds the WHOLE staged
      // edge artifact in one corpus-cadence batch — compaction-style
      // work where a full-scan selection is the right shape (and the
      // only bench coverage the generic path keeps). The increment-
      // cadence PRUNED form ([[mergeClusterIncrementDeltaStaged]]) is
      // `stream_xm`'s per-micro-batch body, plan-guarded there.
      val base = stagedBaseCrossModalGroups(spark, sfDir)
      val delta = mergeClusterIncrementDelta(base,
        stagedIncrementCrossEdges(spark, sfDir))
      // the append counter's row count rides the write as an observed
      // metric (the tombstoneClusterDocs r18 discipline): the prior
      // persist + write + count shape spent one extra Spark job and a
      // cache fill solely to feed the gauge (opt r19)
      val obs = org.apache.spark.sql.Observation()
      delta.observe(obs, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$root/epoch=0")
      noteClusterDeltaAppend(sfDir, root.toString,
        obs.get("n").asInstanceOf[Long], epochId = 0L)
      crossModalKeepBestOver(spark, sfDir,
        servedCrossModalGroups(spark, sfDir))
    } finally { retireClusterDeltas(sfDir, root.toString); () }
  }

  /** Benchmark decontamination — the train/test-leakage detector every
    * training pipeline runs before a data release: flag corpus documents
    * sharing at least `minShared` character-`DecontaminateGramLen`-gram
    * hashes with a PROBE set (the benchmark). Grams are 24 characters —
    * long enough that shared vocabulary alone cannot collide (8-char
    * grams flag an entire common-vocabulary corpus); a hit means a
    * verbatim run of 25+ characters, the contamination signal. The probe
    * side is small by nature (benchmarks are thousands of documents, the
    * corpus is billions), so its distinct gram set BROADCASTS and the
    * corpus side streams through a map-side hash join with no shuffle of
    * corpus grams; per-doc gram sets are deduplicated in-row before the
    * explode. Here the probe set is `doc_id % probeMod == 0` (a
    * deterministic stand-in for a benchmark table, so the oracle can
    * recompute it); production callers pass any probe DataFrame via the
    * overload.
    */
  def docDecontaminate(docs: DataFrame, probe: DataFrame, minShared: Int): DataFrame =
    contamVerdicts(contamGrams(docs),
      contamGrams(probe).select("g").distinct(), minShared)

  /** The contamination VERDICT tail — broadcast gram join, per-doc
    * distinct-shared count, threshold — shared by the batch detector
    * and the streaming gate so the two cannot drift (the gate claims
    * the batch oracle verbatim). */
  private def contamVerdicts(corpusGrams: DataFrame, probeGrams: DataFrame,
      minShared: Int): DataFrame =
    corpusGrams
      .join(broadcast(probeGrams), "g")
      .groupBy("doc_id")
      .agg(count_distinct(col("g")).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** The per-doc distinct contamination-gram rows — gram hashing fused
    * into the native GramMd5s loop (the composable per-gram
    * md5(substr(...)) chain is CodegenFallback and this is the whole
    * corpus-side scan cost); shared by the batch detector, the staged
    * probe index, and the streaming gate's per-batch body so all three
    * gram identically by construction. */
  private def contamGrams(df: DataFrame): DataFrame = {
    graft.functions.GramMd5s.register(df.sparkSession)
    df.select(
      col("doc_id"),
      explode(array_distinct(
        call_function("gram_md5s", col("text"), lit(DecontaminateGramLen)))).as("g"))
  }

  private val probeGramDirs =
    new graft.util.StampedMemo[java.nio.file.Path]("documents")

  /** The decontamination PROBE INDEX staged once per benchmark snapshot:
    * the distinct contamination-gram set of the probe (benchmark) slice.
    * Benchmarks are small by nature (thousands of documents against a
    * corpus of billions), so the staged set is a bounded broadcast-side
    * artifact — gramming the benchmark is an INDEX BUILD paid once, not
    * per arriving batch. Stamped like every staged artifact: a benchmark
    * rewrite re-derives. */
  def stagedProbeGrams(spark: SparkSession, sfDir: String): DataFrame =
    stagedParquet(spark, sfDir, probeGramDirs,
      contamGrams(Fixtures.documents(spark, sfDir)
          .filter(pmod(col("doc_id"), lit(DecontaminateProbeMod)) === 0))
        .select("g").distinct())

  /** Decontaminate ONE arriving batch against the staged probe grams —
    * the per-micro-batch body of the streaming decontamination gate
    * (`stream_dc`): gram the batch in-row, hash-join the bounded staged
    * probe set by broadcast, aggregate per doc. Per-batch cost
    * O(batch grams) — no corpus work, no shuffle beyond the batch-local
    * per-doc aggregate. Split-independent by construction: a document
    * is one stream row, so its grams land in exactly one batch and its
    * verdict depends on (that doc, the frozen probe set) alone. */
  def decontaminateBatch(spark: SparkSession, sfDir: String,
      batch: DataFrame): DataFrame =
    decontaminateBatchAt(stagedProbeGrams(spark, sfDir), batch)

  /** The FROZEN-PROBE form for long-lived streaming gates
    * ([[mergeClusterIncrementDeltaStagedAt]]'s discipline for the
    * decontamination family): the caller resolves the staged probe-gram
    * frame ONCE at stream start and every micro-batch joins exactly that
    * frame — a mid-stream benchmark rewrite must NOT silently swing
    * later batches onto a rebuilt probe set (the memo-keyed
    * [[decontaminateBatch]] would: the stamp change re-derives on next
    * access — ADVICE r16), which would break the gate's documented
    * split-independence premise (every verdict depends on the doc + ONE
    * frozen probe set). */
  def decontaminateBatchAt(probe: DataFrame, batch: DataFrame): DataFrame =
    contamVerdicts(contamGrams(spreadBatch(batch)), probe,
      DecontaminateMinShared)

  val DecontaminateGramLen = 24
  val DecontaminateProbeMod = 20L
  val DecontaminateMinShared = 2

  def docDecontaminate(docs: DataFrame): DataFrame =
    docDecontaminate(
      docs.filter(pmod(col("doc_id"), lit(DecontaminateProbeMod)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(DecontaminateProbeMod)) === 0),
      DecontaminateMinShared)

  // ---------------------------------------------------------------------
  // Driver-contract wiring
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // round 13: the text dup keys serve from the staged signature index
    // (tokenize/minhash/shingle once per corpus snapshot — the staged
    // media-fingerprint discipline applied to text)
    // the pair-listing keys all ride the takedown exclusion (r19): a
    // retracted doc stops appearing as a dup-pair member in EVERY
    // family, not just the LSH chain (doc_simhash is a per-doc
    // projection, not a dup listing — projections are the corpus
    // rewrite's takedown domain)
    "minhash" -> ((s, d) => excludeTombstonedDocs(s, d,
      stagedMinhashLsh(s, d), Seq("doc_a", "doc_b"))),
    "substr_dups" -> ((s, d) => excludeTombstonedDocs(s, d,
      docSubstrDups(Fixtures.documents(s, d)), Seq("doc_a", "doc_b"))),
    "doc_simhash" -> ((s, d) => docSimhash(Fixtures.documents(s, d))),
    "sim_pairs" -> ((s, d) => excludeTombstonedDocs(s, d,
      docSimhashPairs(Fixtures.documents(s, d)), Seq("doc_a", "doc_b"))),
    // round 11: perceptual image-hash near-dups over the textured media
    // corpus ("img_dups" short for the bench line budget)
    "img_dups" -> ((s, d) => imageDHashDups(s, d)),
    // round 11: acoustic-fingerprint near-dups over the textured audio
    // corpus ("wav_dups" short for the bench line budget)
    "wav_dups" -> ((s, d) => audioHashDups(s, d)),
    // round 12: temporal-fingerprint near-dups over the textured video
    // corpus — the modality square's last side
    "gif_dups" -> ((s, d) => videoHashDups(s, d)),
    // round 12: cross-modal dup reconciliation — text + image + audio
    // dup graphs merged over the doc↔media link, one canonical elected
    "xmodal" -> ((s, d) => crossModalKeepBest(s, d)),
    // round 16: the cluster overlay's BATCH serve — register deltas,
    // fold the edge topic as one epoch, serve base ∪ deltas, elect
    "xm_served" -> ((s, d) => xmServedContract(s, d)),
    "ngram_jac" -> ((s, d) => excludeTombstonedDocs(s, d,
      stagedNgramJaccard(s, d), Seq("doc_a", "doc_b"))),
    "lsh_dups" -> ((s, d) => stagedLshVerifiedDups(s, d)),
    "dup_groups" -> ((s, d) => stagedDupGroups(s, d)),
    "decontam" -> ((s, d) => stagedContamination(s, d)),
    "incr_dedup" -> ((s, d) => stagedIncrementalDedup(s, d)),
    // round 19: takedown through the text probe-index tombstones — the
    // ann_del sibling for the dedup gate
    "lsh_del" -> ((s, d) => lshDeleteServe(s, d)))

  private val DUCK_SHINGLES =
    """list_distinct([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)])"""

  /** The `incr_dedup` oracle chain, parameterized on a pair-level
    * predicate over the `cand` alias `c` — `lsh_del` passes the
    * tombstoned slice's complement on both endpoints; the plain key
    * passes the default TRUE (the
    * [[graft.operators.SimilarityOps.annBatchOracleSql]] pattern, so
    * the two keys cannot drift). */
  private def incrDedupOracleSql(pairPredicate: String = "TRUE"): String =
    s"""WITH toks AS (SELECT * FROM (
                        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                        FROM documents) WHERE len(w) >= 3),
        flag AS (SELECT doc_id,
                        (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                          % 1000) < $IncrementPermille AS is_new
                 FROM toks),
        shset AS (SELECT doc_id, $DUCK_SHINGLES AS sh FROM toks),
        sh AS (SELECT doc_id, unnest(sh) AS s FROM shset),
        mh AS (SELECT doc_id, t.seed, min(md5(concat(t.seed, '|', s))) AS mh
               FROM sh, range(0, $NumSeeds) t(seed) GROUP BY doc_id, t.seed),
        bands AS (SELECT doc_id, seed // $RowsPerBand AS band,
                         md5(string_agg(mh, '|' ORDER BY seed)) AS sig
                  FROM mh GROUP BY doc_id, seed // $RowsPerBand),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY band, sig
                                                ORDER BY doc_id) AS rk
                   FROM bands),
        cand AS (SELECT CASE WHEN fa.is_new THEN a.doc_id ELSE b.doc_id END AS new_doc,
                        CASE WHEN fa.is_new THEN b.doc_id ELSE a.doc_id END AS base_doc,
                        CAST(count(*) AS BIGINT) AS n_bands
                 FROM ranked a JOIN ranked b ON a.band = b.band AND a.sig = b.sig
                                             AND a.doc_id < b.doc_id
                                             AND ${duckCap("a.rk")} AND ${duckCap("b.rk")}
                 JOIN flag fa ON fa.doc_id = a.doc_id
                 JOIN flag fb ON fb.doc_id = b.doc_id
                 WHERE fa.is_new <> fb.is_new
                 GROUP BY 1, 2)
        SELECT c.new_doc, c.base_doc, c.n_bands,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
               CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jaccard
        FROM cand c
        JOIN shset sa ON sa.doc_id = c.new_doc
        JOIN shset sb ON sb.doc_id = c.base_doc
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
              CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) >= $JaccardThreshold
          AND ($pairPredicate)"""

  /** The verified-dups pipeline as a reusable CTE chain ending in `dup`
    * (doc_a, doc_b, n_bands, jaccard ≥ threshold) — the oracle for
    * `lsh_dups` itself and the input graph of
    * `dup_groups`. */
  private def duckVerifiedCtes: String =
    s"""toks AS (SELECT * FROM (
                   SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                   FROM documents) WHERE len(w) >= 3),
        shset AS (SELECT doc_id, $DUCK_SHINGLES AS sh FROM toks),
        sh AS (SELECT doc_id, unnest(sh) AS s FROM shset),
        mh AS (SELECT doc_id, t.seed, min(md5(concat(t.seed, '|', s))) AS mh
               FROM sh, range(0, $NumSeeds) t(seed) GROUP BY doc_id, t.seed),
        bands AS (SELECT doc_id, seed // $RowsPerBand AS band,
                         md5(string_agg(mh, '|' ORDER BY seed)) AS sig
                  FROM mh GROUP BY doc_id, seed // $RowsPerBand),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY band, sig
                                                ORDER BY doc_id) AS rk
                   FROM bands),
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        CAST(count(*) AS BIGINT) AS n_bands
                 FROM ranked a JOIN ranked b ON a.band = b.band AND a.sig = b.sig
                                             AND a.doc_id < b.doc_id
                                             AND ${duckCap("a.rk")} AND ${duckCap("b.rk")}
                 GROUP BY a.doc_id, b.doc_id),
        dup AS (SELECT c.doc_a, c.doc_b, c.n_bands,
                       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                       CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) AS jaccard
                FROM cand c
                JOIN shset sa ON sa.doc_id = c.doc_a
                JOIN shset sb ON sb.doc_id = c.doc_b
                WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                      CAST(len(list_distinct(sa.sh || sb.sh)) AS DOUBLE) >= $JaccardThreshold)"""

  /** The media-corpus id universe, in SQL — the oracle mirror of
    * [[graft.multimodal.MultimodalOps]]'s asset-id scheme (`mid` the
    * asset id, `src` its generating doc): primary per doc, secondary
    * per 8th doc (consecutive ids → their own texture groups), orphan
    * per 16th. Every media ranked chain derives its rows from this. */
  private def duckMediaIds: String = {
    import graft.multimodal.MultimodalOps.{PrimaryOffset, SecondaryBase, OrphanBase}
    s"""SELECT doc_id + $PrimaryOffset AS mid, doc_id AS src FROM documents
        UNION ALL
        SELECT $SecondaryBase + doc_id // 2, doc_id FROM documents WHERE doc_id % 8 = 0
        UNION ALL
        SELECT $OrphanBase + doc_id // 16, doc_id FROM documents WHERE doc_id % 16 = 0"""
  }

  /** The doc↔media LINK in SQL — primary + secondary rows only (orphans
    * deliberately absent): the oracle mirror of
    * [[graft.multimodal.MultimodalOps.mediaLink]]. */
  private def duckMediaLink: String = {
    import graft.multimodal.MultimodalOps.{PrimaryOffset, SecondaryBase}
    s"""SELECT doc_id + $PrimaryOffset AS media_id, doc_id AS ld FROM documents
        UNION ALL
        SELECT $SecondaryBase + doc_id // 2, doc_id FROM documents WHERE doc_id % 8 = 0"""
  }

  /** The `img_dups` oracle, factored out so [[crossModalOracle]] can
    * embed it as a subquery: every pixel of the textured corpus
    * re-derives arithmetically (integer ops mod 256; PNG is lossless —
    * the synthTexturePng contract), so the pooled dHash, the banding,
    * the cap, and the hamming verify all mirror the operator exactly.
    * `g = doc_id // 8` matches the engine's `floorMod(id / 8, 2^20)`
    * exactly on the id domain [0, 2^23) that the texture synthesizers
    * ENFORCE (requireTextureIdDomain) — a wider domain fails the build
    * loudly instead of flipping this hash. The chains' internal
    * `doc_id` column is bound to the MEDIA id (the [[duckMediaIds]]
    * universe); the generating doc rides along only where increment
    * flags need it. */
  private def imgRankedCtes: String =
    s"""base AS (
            SELECT mid AS doc_id, mid // 8 AS g, (mid % 8) * 4 AS spike
            FROM ($duckMediaIds)),
          px AS (
            SELECT b.doc_id, x.x, y.y,
                   ((b.g % 5) * x.x * x.x + ((b.g // 5) % 5) * y.y * y.y
                    + ((b.g // 25) % 3) * x.x * y.y + (b.g % 7) * (x.x + y.y)
                    + b.g * 3
                    + CASE WHEN x.x = b.spike AND y.y = b.spike THEN 40 ELSE 0 END)
                   % 256 AS gray
            FROM base b, range(0, 32) x(x), range(0, 32) y(y)),
          cells AS (SELECT doc_id, y // 4 AS cy, x // 4 AS cx, sum(gray) AS s
                    FROM px GROUP BY 1, 2, 3),
          fp AS (SELECT l.doc_id,
                        coalesce(sum(CASE WHEN l.s > r.s
                                          THEN 1::BIGINT << (l.cy * 7 + l.cx)
                                          ELSE 0 END), 0) AS dhash
                 FROM cells l JOIN cells r
                   ON r.doc_id = l.doc_id AND r.cy = l.cy AND r.cx = l.cx + 1
                 GROUP BY l.doc_id),
          blocks AS (SELECT doc_id, dhash, b.blk,
                            (dhash >> (b.blk * 7)) & 127 AS blk_val
                     FROM fp, range(0, $ImgHashBlocks) b(blk)),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY blk, blk_val
                                                  ORDER BY doc_id) AS rk
                     FROM blocks)"""

  private def imgDupsOracle: String =
    s"""WITH $imgRankedCtes,
          pairs AS (SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
                           CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
                    FROM ranked a JOIN ranked b
                      ON a.blk = b.blk AND a.blk_val = b.blk_val
                      AND a.doc_id < b.doc_id
                      AND ${duckCap("a.rk")} AND ${duckCap("b.rk")})
          SELECT media_a, media_b, hamming FROM pairs
          WHERE hamming <= $ImgMaxHamming"""

  /** The `stream_img`/`stream_wav`/`stream_gif` oracle shape: a
    * modality's near-dup pairs restricted to CROSS (new × base) pairs
    * under the md5-bucket increment — the streamed union over any
    * micro-batch split equals exactly this (the `incr_dedup`-oracle
    * shape over a fingerprint family). Exact under
    * [[assertMediaProbeCapPremise]] (no bucket overflows: the engine
    * caps base members alone at staging, this ranks interleaved).
    * `rankedCtes` is the modality's arithmetic fingerprint chain ending
    * in `ranked` — the SAME chain its batch dup oracle uses, so the two
    * can never drift. */
  private def mediaIncrementalOracle(rankedCtes: String): String =
    s"""WITH $rankedCtes,
          mids AS ($duckMediaIds),
          flag AS (SELECT doc_id,
                          (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                            % 1000) < $IncrementPermille AS is_new
                   FROM documents),
          pairs AS (SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
                           CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
                    FROM ranked a JOIN ranked b
                      ON a.blk = b.blk AND a.blk_val = b.blk_val
                      AND a.doc_id < b.doc_id
                      AND ${duckCap("a.rk")} AND ${duckCap("b.rk")})
          SELECT CASE WHEN fa.is_new THEN p.media_a ELSE p.media_b END AS new_media,
                 CASE WHEN fa.is_new THEN p.media_b ELSE p.media_a END AS base_media,
                 p.hamming
          FROM pairs p
          JOIN mids ma ON ma.mid = p.media_a
          JOIN flag fa ON fa.doc_id = ma.src
          JOIN mids mb ON mb.mid = p.media_b
          JOIN flag fb ON fb.doc_id = mb.src
          WHERE fa.is_new <> fb.is_new AND p.hamming <= $ImgMaxHamming"""

  private[graft] def imgIncrementalOracle: String =
    mediaIncrementalOracle(imgRankedCtes)

  private[graft] def wavIncrementalOracle: String =
    mediaIncrementalOracle(wavRankedCtes)

  private[graft] def gifIncrementalOracle: String =
    mediaIncrementalOracle(gifRankedCtes)

  /** The `wav_dups` oracle, factored out so [[crossModalOracle]] can
    * embed it as a subquery: every PCM sample re-derives arithmetically
    * (integer ops; PCM16 is lossless — the synthTextureWav contract),
    * so the windowed energies, the fingerprint, and the banded pairs
    * mirror the operator exactly. */
  private def wavRankedCtes: String =
    s"""abase AS (
            SELECT mid AS doc_id, mid // 8 AS g, (mid % 8) * 50 AS t0
            FROM ($duckMediaIds)),
          samp AS (
            SELECT b.doc_id, t.t // 8 AS w,
                   abs((((b.g * 2654435761) % 1024) * t.t * t.t
                        + (((b.g * 2654435761) // 1024) % 1024) * t.t
                        + (((b.g * 2654435761) // 1048576) % 2048)) % 2048 - 1024
                       + CASE WHEN t.t = b.t0 THEN 500 ELSE 0 END) AS av
            FROM abase b, range(0, 456) t(t)),
          energy AS (SELECT doc_id, w, sum(av) AS e
                     FROM samp GROUP BY 1, 2),
          fp AS (SELECT l.doc_id,
                        coalesce(sum(CASE WHEN l.e > r.e
                                          THEN 1::BIGINT << l.w
                                          ELSE 0 END), 0) AS dhash
                 FROM energy l JOIN energy r
                   ON r.doc_id = l.doc_id AND r.w = l.w + 1
                 GROUP BY l.doc_id),
          blocks AS (SELECT doc_id, dhash, b.blk,
                            (dhash >> (b.blk * 7)) & 127 AS blk_val
                     FROM fp, range(0, $ImgHashBlocks) b(blk)),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY blk, blk_val
                                                  ORDER BY doc_id) AS rk
                     FROM blocks)"""

  private def wavDupsOracle: String =
    s"""WITH $wavRankedCtes,
          pairs AS (SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
                           CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
                    FROM ranked a JOIN ranked b
                      ON a.blk = b.blk AND a.blk_val = b.blk_val
                      AND a.doc_id < b.doc_id
                      AND ${duckCap("a.rk")} AND ${duckCap("b.rk")})
          SELECT media_a, media_b, hamming FROM pairs
          WHERE hamming <= $ImgMaxHamming"""

  /** The `gif_dups` oracle, factored out so [[crossModalOracle]] can
    * embed it as a subquery: every frame pixel re-derives arithmetically
    * (integer ops mod 256; GIF is lossless over indexed rasters — the
    * synthTextureGif contract), so the per-frame energies, the temporal
    * fingerprint, and the banded pairs mirror the operator exactly. */
  private def gifRankedCtes: String =
    s"""vbase AS (
            SELECT mid AS doc_id, mid // 8 AS g, mid % 8 AS p
            FROM ($duckMediaIds)),
          vpx AS (
            SELECT b.doc_id, f.f,
                   ((((b.g * 2654435761) % 8) + 1) * f.f * f.f
                    + ((((b.g * 2654435761) // 8) % 8) + 1) * f.f * (x.x + 1)
                    + (((b.g * 2654435761) // 64) % 8) * x.x * y.y
                    + (((b.g * 2654435761) // 512) % 8) * (y.y + 1) * f.f
                    + b.g * 3
                    + CASE WHEN f.f = b.p * 8 THEN 40 ELSE 0 END)
                   % 256 AS gray
            FROM vbase b, range(0, 57) f(f), range(0, 8) x(x), range(0, 8) y(y)),
          venergy AS (SELECT doc_id, f, sum(gray) AS e
                      FROM vpx GROUP BY 1, 2),
          fp AS (SELECT l.doc_id,
                        coalesce(sum(CASE WHEN l.e > r.e
                                          THEN 1::BIGINT << l.f
                                          ELSE 0 END), 0) AS dhash
                 FROM venergy l JOIN venergy r
                   ON r.doc_id = l.doc_id AND r.f = l.f + 1
                 GROUP BY l.doc_id),
          blocks AS (SELECT doc_id, dhash, b.blk,
                            (dhash >> (b.blk * 7)) & 127 AS blk_val
                     FROM fp, range(0, $ImgHashBlocks) b(blk)),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY blk, blk_val
                                                  ORDER BY doc_id) AS rk
                     FROM blocks)"""

  private def gifDupsOracle: String =
    s"""WITH $gifRankedCtes,
          pairs AS (SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b,
                           CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
                    FROM ranked a JOIN ranked b
                      ON a.blk = b.blk AND a.blk_val = b.blk_val
                      AND a.doc_id < b.doc_id
                      AND ${duckCap("a.rk")} AND ${duckCap("b.rk")})
          SELECT media_a, media_b, hamming FROM pairs
          WHERE hamming <= $ImgMaxHamming"""

  /** Cross-modal reconciliation oracle: the text, image, and audio pair
    * oracles ride as parenthesized subqueries (each scopes its own WITH
    * chain — their internal CTE names collide by design reuse), media
    * pairs map to doc ids through the fixture link, and the transitive
    * closure + election mirror `dup_groups` + `keep_best`. The
    * multiply-referenced pair CTEs are MATERIALIZED (the playbook rule:
    * DuckDB inlines a twice-referenced chain exponentially). */
  private def crossModalOracle: String = crossModalElectionOracle(dropNewNew = false)

  /** The `stream_xm` oracle: the SAME cross-modal chain as [[crossModalOracle]]
    * with the new×new edges dropped — the from-scratch closure over
    * (base-only edges ∪ the gates' cross edges), which the streamed
    * merge must equal at any micro-batch split
    * ([[mergeClusterIncrement]]'s property; cap premises gated in
    * Verify exactly as the per-gate stream keys'). */
  private[graft] def streamCrossModalOracle: String =
    crossModalElectionOracle(dropNewNew = true)

  /** Cross-modal reconciliation closure + election, optionally dropping
    * edges whose BOTH endpoints are increment docs (`dropNewNew`) — one
    * chain for the batch and streaming keys, zero drift. */
  private def crossModalElectionOracle(dropNewNew: Boolean): String = {
    val flagCte =
      if (!dropNewNew) ""
      else s"""
        flag AS MATERIALIZED (
          SELECT doc_id,
                 (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 1000) < $IncrementPermille AS is_new
          FROM documents),"""
    val allp =
      if (!dropNewNew) "SELECT a, b FROM tp UNION ALL SELECT a, b FROM mp2"
      else """SELECT p.a, p.b
              FROM (SELECT a, b FROM tp UNION ALL SELECT a, b FROM mp2) p
              JOIN flag fa ON fa.doc_id = p.a
              JOIN flag fb ON fb.doc_id = p.b
              WHERE NOT (fa.is_new AND fb.is_new)"""
    s"""WITH RECURSIVE
        xlink AS ($duckMediaLink),$flagCte
        tp AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM (
          WITH $duckVerifiedCtes SELECT doc_a, doc_b FROM dup)),
        mp AS MATERIALIZED (
          SELECT media_a, media_b FROM ($imgDupsOracle)
          UNION ALL
          SELECT media_a, media_b FROM ($wavDupsOracle)
          UNION ALL
          SELECT media_a, media_b FROM ($gifDupsOracle)),
        mp2 AS (SELECT la.ld AS a, lb.ld AS b
                FROM mp JOIN xlink la ON mp.media_a = la.media_id
                        JOIN xlink lb ON mp.media_b = lb.media_id),
        allp AS MATERIALIZED ($allp),
        edges AS (SELECT a, b FROM allp UNION ALL SELECT b, a FROM allp),
        verts AS (SELECT DISTINCT a AS id FROM edges),
        reach(id, r) AS (
          SELECT id, id FROM verts
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
        comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
                  FROM comp GROUP BY cluster)
        SELECT c.id AS doc_id, c.cluster, s.cluster_size, q.quality,
               CAST(row_number() OVER (PARTITION BY c.cluster
                                       ORDER BY q.quality DESC, c.id) = 1
                    AS INTEGER) AS keep
        FROM comp c JOIN sizes s USING (cluster)
        JOIN (${TextOps.oracle("tq_score")}) q ON c.id = q.doc_id"""
  }

  def oracle: Map[String, String] = Map(
    "xmodal" -> crossModalOracle,
    // the overlay serve equals the from-scratch closure sans new×new —
    // stream_xm's oracle verbatim (zero drift by construction)
    "xm_served" -> streamCrossModalOracle,
    "minhash" ->
      s"""WITH toks AS (SELECT * FROM (
                          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                          FROM documents) WHERE len(w) >= 3),
          sh AS (SELECT doc_id, unnest($DUCK_SHINGLES) AS s FROM toks),
          mh AS (SELECT doc_id, t.seed, min(md5(concat(t.seed, '|', s))) AS mh
                 FROM sh, range(0, $NumSeeds) t(seed) GROUP BY doc_id, t.seed),
          bands AS (SELECT doc_id, seed // $RowsPerBand AS band,
                           md5(string_agg(mh, '|' ORDER BY seed)) AS sig
                    FROM mh GROUP BY doc_id, seed // $RowsPerBand),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY band, sig
                                                  ORDER BY doc_id) AS rk
                     FROM bands)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_bands
          FROM ranked a JOIN ranked b ON a.band = b.band AND a.sig = b.sig
                                      AND a.doc_id < b.doc_id
                                      AND ${duckCap("a.rk")} AND ${duckCap("b.rk")}
          GROUP BY a.doc_id, b.doc_id""",
    "substr_dups" ->
      s"""WITH toks AS (SELECT * FROM (
                          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                          FROM documents) WHERE len(w) >= $SubstrWindow),
          wins AS (SELECT doc_id,
                          unnest([md5(array_to_string(w[i:i+${SubstrWindow - 1}], ' '))
                                  for i in range(1, len(w) - ${SubstrWindow - 2})]) AS fp
                   FROM toks),
          sel AS (SELECT DISTINCT doc_id, fp FROM wins
                  WHERE ('0x' || substring(fp, 1, 15))::BIGINT % $SubstrModP = 0),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY fp
                                                  ORDER BY doc_id) AS rk
                     FROM sel)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS n_windows
          FROM ranked a JOIN ranked b ON a.fp = b.fp AND a.doc_id < b.doc_id
                                      AND ${duckCap("a.rk")} AND ${duckCap("b.rk")}
          GROUP BY a.doc_id, b.doc_id HAVING count(*) >= $SubstrMinShared""",
    "doc_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
                       FROM documents),
         hashes AS (SELECT doc_id,
                           ('0x' || substring(md5(w), 1, 15))::BIGINT AS h
                    FROM toks WHERE w <> ''),
         votes AS (SELECT doc_id, j.j,
                          sum(((h >> j.j) & 1) * 2 - 1) AS vote
                   FROM hashes, range(0, 60) j(j) GROUP BY doc_id, j.j)
         -- CAST: DuckDB sums BIGINT into HUGEINT (decimal128 at the
         -- comparator) while Spark stays int64 — values are identical
         SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
         FROM votes GROUP BY doc_id""",
    "sim_pairs" ->
      s"""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
                        FROM documents),
          hashes AS (SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h
                     FROM toks WHERE w <> ''),
          votes AS (SELECT doc_id, j.j, sum(((h >> j.j) & 1) * 2 - 1) AS vote
                    FROM hashes, range(0, 60) j(j) GROUP BY doc_id, j.j),
          fp AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN 1::BIGINT << j ELSE 0 END) AS simhash
                 FROM votes GROUP BY doc_id),
          blocks AS (SELECT doc_id, simhash, b.blk,
                            (simhash >> (b.blk * 15)) & 32767 AS blk_val
                     FROM fp, range(0, $SimhashBlocks) b(blk)),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY blk, blk_val
                                                  ORDER BY doc_id) AS rk
                     FROM blocks),
          pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
                    FROM ranked a JOIN ranked b
                      ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
                      AND ${duckCap("a.rk")} AND ${duckCap("b.rk")})
          SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= $MaxHamming""",
    "img_dups" -> imgDupsOracle,
    "wav_dups" -> wavDupsOracle,
    "gif_dups" -> gifDupsOracle,
    "lsh_dups" ->
      s"""WITH $duckVerifiedCtes
          SELECT doc_a, doc_b, n_bands, jaccard FROM dup""",
    "dup_groups" ->
      // WITH RECURSIVE prefixes the whole CTE list in DuckDB; the
      // verified-dups chain rides along unchanged, then `reach` closes
      // the duplicate graph transitively and min(r) is the cluster label
      s"""WITH RECURSIVE $duckVerifiedCtes,
          edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
                    UNION ALL SELECT doc_b, doc_a FROM dup),
          verts AS (SELECT DISTINCT a AS id FROM edges),
          reach(id, r) AS (
            SELECT id, id FROM verts
            UNION
            SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
          comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
          sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
                    FROM comp GROUP BY cluster)
          SELECT c.id AS doc_id, c.cluster,
                 CAST(c.id = c.cluster AS INTEGER) AS is_canonical,
                 s.cluster_size
          FROM comp c JOIN sizes s USING (cluster)""",
    "decontam" ->
      s"""WITH grams AS (SELECT doc_id,
                                unnest(list_distinct([md5(substring(text, i, $DecontaminateGramLen))
                                  for i in range(1, greatest(length(text) - ${DecontaminateGramLen - 1}, 1) + 1)])) AS g
                         FROM documents),
          probe AS (SELECT DISTINCT g FROM grams
                    WHERE doc_id % $DecontaminateProbeMod = 0),
          corpus AS (SELECT * FROM grams
                     WHERE doc_id % $DecontaminateProbeMod <> 0)
          SELECT c.doc_id, CAST(count(DISTINCT c.g) AS BIGINT) AS n_shared
          FROM corpus c JOIN probe p ON c.g = p.g
          GROUP BY c.doc_id
          HAVING count(DISTINCT c.g) >= $DecontaminateMinShared""",
    "incr_dedup" -> incrDedupOracleSql(),
    // lsh_del: the SAME chain minus pairs touching the tombstoned slice
    // — deletion is pure pair exclusion, so the oracle is arithmetic
    // (the ann_del oracle recipe)
    "lsh_del" -> incrDedupOracleSql(
      s"c.new_doc % $DocDeleteMod <> $DocDeleteRem AND " +
        s"c.base_doc % $DocDeleteMod <> $DocDeleteRem"),
    "ngram_jac" ->
      s"""WITH toks AS (SELECT * FROM (
                          SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
                          FROM documents) WHERE len(w) >= 3),
          base AS (SELECT doc_id,
                          md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS sig,
                          $DUCK_SHINGLES AS sh
                   FROM toks),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY sig
                                                  ORDER BY doc_id) AS rk
                     FROM base)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
          FROM ranked a JOIN ranked b ON a.sig = b.sig AND a.doc_id < b.doc_id
                                      AND ${duckCap("a.rk")} AND ${duckCap("b.rk")}""")
}
