package graft

import org.apache.spark.sql.functions.{col, posexplode}

/** Physical-plan regression guards: the scale properties the operators
  * were designed around, asserted against the actual executed plans so a
  * future refactor cannot silently lose them. Each assertion names the
  * plan feature that would be the 100 TB bottleneck if it regressed.
  */
class PlanSpec extends SparkTestBase {

  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, sfDir).queryExecution.executedPlan.toString

  test("evt_filter pushes its predicates into the parquet scan") {
    val p = plan("evt_filter")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), IsNotNull(value), " +
      "EqualTo(event_type,purchase), GreaterThan(value,50.0)]"), p)
  }

  test("scan_env prunes the scan to the projected columns") {
    val p = plan("scan_env")
    // Assert the pruned column SET, not the rendered ReadSchema string —
    // the fixture's physical ts type has churned across driver rounds
    // (timestamp[ns] read as bigint, then timestamp[us]); column coverage
    // is the scale property, the rendered type name is not.
    val read = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    Seq("event_id", "ts", "user_id", "event_type", "value", "props").foreach { c =>
      assert(read.contains(c), s"ReadSchema missing $c: $read")
    }
    // and no sort anywhere: full-table output must not pay a range shuffle
    assert(!p.contains("rangepartitioning"), p)
  }

  test("text dup keys serve from the staged signature index, not a per-query tokenize") {
    // tokenize + minhash + shingle run ONCE at signature staging; the
    // LSH/verify QUERY reads the staged (doc_id, bands, sh) parquet —
    // no minhash_bands, no word_shingles, no text column in its plan
    Seq("minhash", "lsh_dups", "incr_dedup", "ngram_jac")
      .foreach { k =>
        val p = plan(k)
        assert(!p.contains("minhash_bands"), s"$k re-derives bands: $p")
        assert(!p.contains("word_shingles"), s"$k re-shingles: $p")
        assert(p.contains("Scan parquet"), s"$k: $p")
      }
  }

  test("streaming dedup batch body prunes both probe indexes, no corpus scan") {
    // the per-micro-batch serve must be O(increment + matched buckets):
    // the band-probe index scans only the increment's signature-prefix
    // partitions (phase 1, checkpointed), the shingle index scans only
    // the candidate docs' buckets (phase 2, the served plan), and
    // nothing in either phase re-tokenizes the corpus
    import graft.operators.DedupOps
    val inc = graft.model.Fixtures.documents(spark, sfDir)
      .filter(DedupOps.isNewDoc).limit(20)
    graft.GraftSession.registerFunctions(spark)
    val incBands = DedupOps.stagedTextSignatures(spark, sfDir)
      .join(inc.select("doc_id"), "doc_id")
      .select(col("doc_id").as("new_doc"),
        posexplode(col("bands")).as(Seq("band", "sig")))
    // phase 1: the candidate probe join scans ONLY the increment's
    // signature-prefix partitions of the band index
    val p1 = DedupOps.probeCandidates(spark, sfDir, incBands)
      .queryExecution.executedPlan.toString
    val bandScans = p1.linesIterator.filter(_.contains("_band_idx_s")).toSeq
    assert(bandScans.size === 1, s"expected exactly one band-index scan:\n$p1")
    assert(bandScans.head.contains("PartitionFilters: [sp#"), p1)
    // phase 2: the served plan reads the CHECKPOINTED candidates (one
    // pruned probe join per batch — ADVICE r13) plus the db-pruned
    // shingle index; the band index and the corpus-wide signature
    // artifact never reappear
    val p = DedupOps.incrementalDedupBatch(spark, sfDir, inc)
      .queryExecution.executedPlan.toString
    assert(!p.contains("_band_idx_s"),
      s"band probe re-scanned in the served plan (candidates not checkpointed):\n$p")
    val shScans = p.linesIterator.filter(_.contains("_shingle_idx_s")).toSeq
    assert(shScans.size === 1, s"expected exactly one shingle-index scan:\n$p")
    assert(shScans.head.contains("PartitionFilters: [db#"), p)
    assert(p.contains("graft_lsh_cand_"), s"served plan must read the checkpoint:\n$p")
    assert(!p.contains("graft_text_idx_"), s"corpus signature scan in batch body:\n$p")
  }

  test("streaming media dedup batch body prunes the band index, no corpus decode") {
    import graft.operators.DedupOps
    val inc = graft.model.Fixtures.documents(spark, sfDir)
      .filter(DedupOps.isNewDoc).limit(20)
    val media = graft.multimodal.MultimodalOps.textureTable(inc)
    val p = DedupOps.incrementalMediaDedupBatch(spark, sfDir, media)
      .queryExecution.executedPlan.toString
    val idxScans = p.linesIterator
      .filter(_.contains("_media_idx_")).toSeq
    assert(idxScans.size === 1, s"expected exactly one media-index scan:\n$p")
    assert(idxScans.head.contains("PartitionFilters: [mp#"), p)
    // the served plan reads the CHECKPOINTED batch fingerprints: the
    // codec decode (a mapPartitions over payload bytes) never appears
    // in it, and neither does the corpus-wide fingerprint artifact
    assert(!p.contains("SerializeFromObject"), s"decode in the served plan:\n$p")
    assert(!p.contains("graft_media_fp_"), s"corpus fingerprint scan in batch body:\n$p")
  }

  test("dup-cluster consumers read the staged assignment, no CC fixpoint in-plan") {
    // the CC fixpoint (an RDD scan in-plan) runs at staging; cluster
    // consumers join staged scalars
    Seq("dup_groups", "xmodal", "filter_pipe", "keep_best").foreach { k =>
      val p = plan(k)
      assert(!p.contains("Scan ExistingRDD"), s"$k runs CC in-plan: $p")
      assert(p.contains("Scan parquet"), s"$k: $p")
    }
  }

  test("gif_dups serves from the staged fingerprint index, not a per-query decode") {
    // the codec walk (57 JDK frame decodes per clip) runs ONCE at
    // fingerprint staging; the dup QUERY must read the staged
    // (media_id, dhash) parquet — no mapPartitions decode in its plan
    val p = plan("gif_dups")
    assert(!p.contains("SerializeFromObject"), p)
    assert(p.contains("Scan parquet"), p)
  }

  test("seek_topk plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("seek_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("topic_join_star broadcasts every dimension join") {
    val p = plan("topic_join_star")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("route_key aggregates with a map-side partial") {
    val p = plan("route_key")
    assert(p.contains("partial_count"), p)
  }

  test("rr_balance has no window operator") {
    val p = plan("rr_balance")
    assert(!p.contains("Window"), p)
  }

  test("emb_near_dup groups buckets once: no self-join, one shuffle to enumerate") {
    val p = plan("emb_near_dup")
    // the r2 shape self-joined the bucket pipeline, computing the
    // projection/bucketing twice; the skeleton shape computes it once
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, p)
  }

  test("bm25 folds tf in-row: no token explode, scalar-stats cross, top-k") {
    val p = plan("bm25")
    // tf/dl fold inside the row — a Generate (explode) would shuffle one
    // row per token instance, the 100 TB killer for a 3-term query
    assert(!p.contains("Generate"), p)
    // corpus stats are ONE 1-row broadcast artifact; top-k never sorts
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("bigrams builds pairs in-row: one explode, one exchange, top-k") {
    val p = plan("bigrams")
    // the pair list forms inside the row (zip_with over aligned slices);
    // a posexplode self-join shape would shuffle one row per TOKEN and
    // join on (doc, position) — the 100 TB killer this guards against
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, p)
    assert(p.contains("partial_count"), p) // map-side combine before it
  }

  test("pii scrub is a pure projection: no exchange at all") {
    val p = plan("pii")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("emb_topk broadcasts the query vector and takes ordered") {
    val p = plan("emb_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("msglog scan prunes columns and reports pushed filters") {
    val dir = graft.sources.MsgLog.stagedEventsLog(spark, sfDir)
    val p = spark.read.format("graft-msglog").load(dir)
      .filter(org.apache.spark.sql.functions.col("user_id") < 10)
      .select("user_id", "event_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("cols=[event_id,user_id]"), p) // pruned, schema order
    assert(p.contains("LessThan(user_id,10)"), p)
  }

  test("doc_minhash_lsh fuses signatures in-row: no join, at most two exchanges") {
    // the pre-fusion shape exploded shingles × 8 seeds through two extra
    // aggregation exchanges — the fused plan's only corpus-wide shuffle
    // is the band-bucket groupBy (the second exchange moves candidates)
    val p = plan("minhash")
    assert(!p.contains("Join"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, p)
  }

  test("lsh_dups does not broadcast-hint the candidate side") {
    // candidate count scales with duplicate density — an unconditional
    // broadcast is O(corpus) at 100 TB; AQE may still elect one at runtime
    val o = SparkEntry.queries("lsh_dups")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(!o.contains("strategy=broadcast"), o)
  }

  test("decontam broadcasts the probe grams: no corpus-side shuffle join") {
    // the serving key reads the staged contamination artifact (a pure
    // scan, no join at all); the BUILD (docDecontaminate, run once per
    // corpus snapshot at staging) must stream the corpus through a
    // broadcast hash join — the benchmark side is small by nature —
    // never sort-merge its gram explosion
    val p = plan("decontam")
    assert(!p.contains("SortMergeJoin"), p)
    val build = graft.operators.DedupOps
      .docDecontaminate(graft.model.Fixtures.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(build.contains("BroadcastHashJoin"), build)
    assert(!build.contains("SortMergeJoin"), build)
  }

  test("payloadSchema: the payload column prunes away when not projected") {
    // the JSON decode is the expensive part of a schema-declared scan —
    // a query not touching `payload` must not pay it (the reader builds
    // the parser only for columns that survive pruning)
    val dir = graft.sources.MsgLog.stagedEventsLog(spark, sfDir)
    val reader = spark.read.format("graft-msglog").option("payloadSchema", "k INT")
    val without = reader.load(dir).select("event_id", "user_id")
      .queryExecution.executedPlan.toString
    assert(without.contains("cols=[event_id,user_id]"), without)
    val withPayload = reader.load(dir).select("event_id", "payload")
      .queryExecution.executedPlan.toString
    assert(withPayload.contains("cols=[event_id,payload]"), withPayload)
  }

  test("doc_pack_bins window is partitioned by shard, never a global single-reducer window") {
    val p = plan("doc_pack_bins")
    assert(p.contains("Window"), p)
    assert(p.contains("windowspecdefinition(shard"), p)
  }

  test("filter_pipe adds no broadcast hints at all") {
    // dup/contamination lists scale with the corpus's duplicate and
    // contamination density — hinting them is the unbounded-"small"-side
    // trap (r5 verdict #1). The probe-gram hint that used to be the one
    // legitimate exception now lives in the contamination STAGING build
    // (the serving query joins the staged artifact unhinted; AQE may
    // still elect a broadcast at runtime from measured sizes).
    val analyzed = SparkEntry.queries("filter_pipe")(spark, sfDir)
      .queryExecution.analyzed.toString
    val hints = "ResolvedHint".r.findAllIn(analyzed).size
    assert(hints === 0, s"expected no broadcast hints, got $hints\n$analyzed")
  }

  test("events_asof_join is one shuffle: union + carry-forward window, no join, no dedup exchange") {
    // the range-join rewrite would be O(n·m); a pre-dedup groupBy on the
    // right side would add a second corpus-wide exchange — the sort order
    // (ts, side, event_id) subsumes both
    val p = plan("asof_join")
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, p)
  }

  test("session_assign is one shuffle: both windows share the sort, the groupBy reuses it") {
    // grouping by (user_id, sid) is clustered by the window's user_id
    // partitioning — a second exchange here means the reuse regressed
    val p = plan("session_assign")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, p)
  }

  test("repetition is a pure projection: no exchange at all") {
    // per-doc n-gram frequency work must never leave the row (the
    // explode-and-count rewrite shuffles the corpus's entire token
    // stream)
    val p = plan("repetition")
    assert(!p.contains("Exchange"), p)
  }

  test("boilerplate joins instances against the bounded heavy set by broadcast") {
    // |heavy| <= 100 × avg grams/doc (df > N/100 each, Σdf <= instances)
    // — the gram-keyed exchange below the df aggregate is the one
    // irreducible corpus statistic; the instance join must not add one
    val p = plan("boilerplate")
    assert(p.contains("BroadcastHashJoin"), p)
    val gramExchanges = "Exchange hashpartitioning\\(gram".r.findAllIn(p).size
    assert(gramExchanges === 1, p)
  }

  test("events_range_join is all hash joins: the cell rewrite defeats the nested-loop plan") {
    // a naive |dt| <= h band predicate has no equi-key, so Catalyst
    // plans BroadcastNestedLoopJoin — O(n·m) and a broadcast of a full
    // event side; the cell-bucket rewrite must keep it an equi-join
    val p = plan("range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), p)
  }

  test("incr_dedup keeps the full pipeline's one corpus-wide bucket exchange") {
    // same skeleton as doc_minhash_lsh: fused in-row signatures, the
    // (band, sig) groupBy is the only corpus-wide shuffle; the verify
    // stage shuffles candidates, not corpus
    val p = plan("incr_dedup")
    val exchanges = "Exchange hashpartitioning\\(band".r.findAllIn(p).size
    assert(exchanges === 1, p)
  }

  test("bpe_enc emission is a pure projection: no exchange, fused kernel in plan") {
    // the staged merges ride as a literal inside the expression; the id
    // emission must stay one in-row pass over the scan — an exchange or
    // join here means tokenization regressed to a vocabulary join
    val p = plan("bpe_enc")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("bpe_encode"), p)
  }

  test("bpe_dec round-trip is a pure projection: no exchange, both kernels fused") {
    // encode and decode chain in one in-row pass over the scan — an
    // exchange or join here means either side regressed to a
    // vocabulary-table join
    val p = plan("bpe_dec")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("bpe_encode") && p.contains("bpe_decode"), p)
  }

  test("ann_del serve keeps the cell prune and inlines the tombstone exclusions") {
    // the takedown serve must keep the servedIndex scale shape: the
    // probe's cell filter still prunes the base index scan, and every
    // tombstone-driven exclusion (base side on segment ids, live side on
    // tombstone ids) comes from the bounded overlay — never a sort-merge
    // or a shuffle over the corpus. The overlay is under
    // MaxOverlayIds, so both exclusions ride the scans as inline InSet
    // filters from the memoised overlay view: no anti-join, no per-read
    // broadcast (the above-cap broadcast form is guarded below). The
    // contract key materializes its output (the epoch-sink discipline),
    // so the plan is taken from the serve frame directly, overlay
    // registered exactly as annDeleteServe registers it.
    import graft.operators.SimilarityOps
    SimilarityOps.dropIndexSegments(sfDir)
    graft.GraftSession.registerFunctions(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_plan_ann_del_")
    graft.util.TempDirs.track(root)
    val ids = graft.model.Fixtures.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.pmod(col("vec_id"),
        org.apache.spark.sql.functions.lit(SimilarityOps.DeleteMod))
        === org.apache.spark.sql.functions.lit(SimilarityOps.DeleteRem))
      .select("vec_id")
    SimilarityOps.tombstoneSegmentRows(spark, sfDir, ids)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/epoch=0")
    SimilarityOps.registerIndexSegments(spark, sfDir, root.toString)
    try {
      val p = SimilarityOps.embeddingBatchTopK(spark, sfDir,
        SimilarityOps.QUERY_BATCH, SimilarityOps.IVF_K)
        .queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [cell#"), p)
      assert(!p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
      assert(!p.contains("LeftAnti"), p)
      assert("NOT vec_id#\\d+L? INSET".r.findAllIn(p).size >= 2, p)
    } finally SimilarityOps.dropIndexSegments(sfDir)
  }

  test("ann_del serve above the overlay-id cap broadcasts the tombstone exclusions") {
    // an overlay past MaxOverlayIds rows is no driver constant: its
    // exclusions stay broadcast anti-joins built from the overlay —
    // still never a sort-merge, and the cell prune still holds
    import graft.operators.SimilarityOps
    import spark.implicits._
    SimilarityOps.dropIndexSegments(sfDir)
    graft.GraftSession.registerFunctions(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_plan_ann_del_big_")
    graft.util.TempDirs.track(root)
    val ids = (0 to SimilarityOps.MaxOverlayIds).map(i => 1000000L + i).toDF("vec_id")
    SimilarityOps.tombstoneSegmentRows(spark, sfDir, ids)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/epoch=0")
    SimilarityOps.registerIndexSegments(spark, sfDir, root.toString)
    try {
      val p = SimilarityOps.embeddingBatchTopK(spark, sfDir,
        SimilarityOps.QUERY_BATCH, SimilarityOps.IVF_K)
        .queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [cell#"), p)
      assert(!p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
      assert("(?s)BroadcastHashJoin.*?LeftAnti".r.findAllIn(p).size >= 2, p)
    } finally SimilarityOps.dropIndexSegments(sfDir)
  }

  test("lsh_del serve broadcasts the tombstone exclusion on both pair sides") {
    // the text-takedown serve must keep the incr_dedup scale shape and
    // bolt on ONLY two bounded broadcast anti-joins (new_doc, base_doc)
    // driven by the band index's sp=-1 tombstone partition — a
    // sort-merge of the pair stream against the tombstone set would
    // shuffle dup pairs over a retraction-sized side. Plan taken from
    // the serve frame with the tombstones live, exactly as
    // lshDeleteServe stages them; retired in finally.
    import graft.operators.DedupOps
    graft.GraftSession.registerFunctions(spark)
    val ids = graft.model.Fixtures.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.pmod(col("doc_id"),
        org.apache.spark.sql.functions.lit(DedupOps.DocDeleteMod))
        === org.apache.spark.sql.functions.lit(DedupOps.DocDeleteRem))
      .select("doc_id")
    DedupOps.tombstoneTextDocs(spark, sfDir, ids)
    try {
      val p = DedupOps.stagedIncrementalDedup(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert("(?s)BroadcastHashJoin.*?LeftAnti".r.findAllIn(p).size >= 2, p)
      // and the tombstone feed reads the sp=-1 marker dir DIRECTLY —
      // bounded by retraction volume, with no partition discovery over
      // the index tree: both exclusion scans read the 1-column marker
      // schema from a single band_idx path with NO partition filter
      // (the location string truncates before the sp=-1 leaf, so the
      // shape is asserted from the scan's schema + path count)
      val tombScans = p.linesIterator.filter(l =>
        l.contains("ReadSchema: struct<doc_id:bigint>") &&
          l.contains("_band_idx_")).toSeq
      assert(tombScans.size >= 2, p)
      assert(tombScans.forall(l =>
        l.contains("InMemoryFileIndex(1 paths)") &&
          l.contains("PartitionFilters: []")), tombScans.mkString("\n"))
    } finally DedupOps.dropTextTombstones(spark, sfDir)
  }

  test("lm_ppl scoring is a pure projection: the returned plan has no exchange") {
    // the LM (total + top-V table) is built by bounded driver jobs at
    // construction; the SCORING plan the caller runs over the corpus
    // must stay an in-row lookup fold — an exchange here means scoring
    // regressed to a token-stream join
    val p = plan("lm_ppl")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("logp_sum"), p)
  }

  test("quality_lr scoring is a pure projection: no exchange, fused kernel in plan") {
    // the model rides as a literal weight vector inside the expression —
    // an exchange or join here means inference regressed to a
    // vocabulary-table join
    val p = plan("quality_lr")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("hash_weight_sum"), p)
  }

  test("src_stats: dup incidence aggregates before any sig-keyed join, no window") {
    // a count-over-sig WINDOW would concentrate a mega-duplicate-family
    // into one un-splittable task (AQE splits skewed joins, not window
    // partitions); the aggregate-first shape keys per-doc work by sig
    // NOWHERE — only one-row-per-(sig, source) aggregates meet the join
    val p = plan("src_stats")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("SortMergeJoin") || p.contains("Exchange hashpartitioning"), p)
  }

  test("rank-1 windows pre-prune map-side: WindowGroupLimit Partial before the exchange") {
    // last_msg_per_partition keys the corpus into P window partitions —
    // survivable ONLY because the rank<=1 filter compiles to a partial
    // group limit that keeps one row per group per input partition
    // before anything shuffles; an orderBy/filter refactor that breaks
    // the rewrite turns this into P un-splittable sort tasks
    Seq("last_msg", "read_compacted").foreach { k =>
      val p = plan(k)
      assert(p.contains("row_number(), 1, Partial"), s"$k lost its partial group limit:\n$p")
    }
  }

  test("keep_best: single-scan window election — members subtree evaluated once") {
    // r19 verdict #4 (opt r20): the former aggregate-then-rejoin shape
    // carried the members subtree (docs scan + quality kernel + groups
    // join) as TWO plan branches, evaluating it twice per serve — for
    // the serving keys that subtree is the whole base ∪ overlay view.
    // The same min_by now evaluates as a window over the cluster: one
    // evaluation, identical winners. Known trade (the old guard's
    // concern): a pathological mega-cluster's window partition is one
    // task where the old flag join was AQE-skew-splittable — but the
    // removed branch was a full corpus pass + quality kernel, which
    // dominates at any realistic duplicate-cluster size.
    val p = plan("keep_best")
    assert(p.contains("Window"), p)
    assert(p.contains("min_by"), p)
    // the members subtree appears ONCE: half the former scan count
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans <= 4, s"keep_best members subtree duplicated ($scans scans): $p")
  }

  test("pack_stats rolls up through partial aggregates, no join, no extra pass") {
    // the audit composes the pack assignment (one shard window) and two
    // hash aggregations; a join or a second corpus scan means the
    // composition regressed to re-deriving its stages
    val p = plan("pack_stats")
    assert(!p.contains("Join"), p)
    assert(p.contains("partial_count"), p)
  }

  test("emb_protos: election reads index scalars only, keeps the two-stage window") {
    // round 9: the assignment (cell + own-centroid cosine) is stored in
    // the staged index, so the serving plan has NO centroid scoring, NO
    // assignment aggregate, and reads no embedding bytes — scalars only;
    // the per-cell top-p must keep its two-stage shape (salted pre-rank)
    // so no single window keys the corpus into |cells| partitions
    val p = plan("emb_protos")
    val read = p.linesIterator.filter(_.contains("_ivf_idx_s")).mkString("\n")
    assert(read.nonEmpty, p)
    assert(!read.contains("embedding:array"), p)
    assert(!p.contains("min_by"), p)
    // two ranking windows (salted pre-prune + final), not one
    val windows = "Window ".r.findAllIn(p).size
    assert(windows === 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the self-assigning library path keeps its aggregate shape
    val lib = graft.operators.SimilarityOps.embeddingCellPrototypes(
      graft.model.Fixtures.embeddings(spark, sfDir),
      index = Some(graft.operators.SimilarityOps.stagedCentroids(spark, sfDir)))
      .queryExecution.executedPlan.toString
    assert(lib.contains("min_by"), lib)
  }

  test("funnel_conversion scan count stays triangular in the (short) stage count") {
    // the lazy per-stage fold re-derives prior stages: s(s+1)/2 source
    // scans — the deliberate trade at 3 stages (see funnelConversion's
    // STAGE-COUNT CEILING note). This pin fails if the contract funnel
    // grows past the shape's comfort zone, forcing the linear-scan or
    // single-pass rewrite decision instead of silently paying O(s²).
    val s = graft.operators.TemporalOps.FunnelStages.length
    assert(s <= 5, s"funnel has $s stages: triangular scans no longer acceptable")
    val scans = "Scan parquet".r.findAllIn(plan("funnel")).size
    assert(scans === s * (s + 1) / 2, plan("funnel"))
  }

  test("pq_enc is a pure projection: no exchange, no join") {
    // the codebook is a staged bounded artifact (PqCodes×dim doubles);
    // the ENCODE plan over the corpus must stay map-only — an exchange
    // or join here means encoding 10^10 vectors stopped being map-only
    val p = plan("pq_enc")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("pq_enc"), p) // native kernel, not the interpreted HOF chain
  }

  test("emb_ivf_topk probes the staged index with partition pruning") {
    val p = plan("emb_ivf_topk")
    // the probe must reach the scan as a PARTITION filter over the staged
    // cell-partitioned index — only probed cells' files are read; at
    // 10^10 vectors this (not a corpus-wide assignment scan) is the
    // query cost model of a served IVF index
    assert(p.contains("PartitionFilters: [cell#"), p)
    assert(p.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[cell#\\d+L? IN \\(.*"), p)
    // the query vector rides the plan as a literal (probed on the
    // driver): no query-side broadcast or join, and no shuffle of the
    // probed cells
    assert(!p.contains("BroadcastExchange"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("ivfpq reads only (vec_id, pq_code) from the pruned staged index") {
    val p = plan("ivfpq")
    // partition pruning to the probed cells…
    assert(p.contains("PartitionFilters: [cell#"), p)
    // …and column pruning to the packed codes: the embedding array must
    // NOT be read — the 64×-smaller scan is the point of a served IVFPQ
    val read = p.linesIterator.filter(_.contains("_ivf_idx_s"))
      .mkString("\n")
    assert(read.contains("pq_code"), p)
    assert(!read.contains("embedding:array"), p)
  }

  test("ann_batch: one pruned scan, inlined probe set, no per-query rescan") {
    val p = plan("ann_batch")
    // the whole batch is served by ONE partition-pruned index scan…
    assert(p.contains("PartitionFilters: [cell#"), p)
    assert("_ivf_idx_s".r.findAllIn(p).size === 1, p)
    // …expanded in-row against the bounded (qid, qe, cell) probe set,
    // which rides the plan as a literal: no join, nothing to broadcast
    assert(p.contains("Generate inline"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("BroadcastExchange"), p)
    // per-query top-k pre-prunes map-side before the qid exchange
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("ann frame path: over-cap serving still prunes partitions, ids never isin-literal") {
    import spark.implicits._
    val p = graft.operators.SimilarityOps
      .embeddingBatchTopKFrame(spark, sfDir, Seq(0L, 7L, 13L).toDF("vec_id"), 10)
      .queryExecution.executedPlan.toString
    // the admission-cap fallback must keep the served-index cost model:
    // one partition-pruned scan of the staged index (cells stay a bounded
    // driver list even when the id batch is unbounded)…
    assert(p.contains("PartitionFilters: [cell#"), p)
    assert("_ivf_idx_s".r.findAllIn(p).size === 1, p)
    // …and the query ids must flow as a JOIN, never an isin literal list
    // (the literal list is exactly the driver-size hazard the cap guards)
    assert(!p.replaceAll("\\s+", " ").matches("(?s).*vec_id#\\d+L? IN \\(.*"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("pq_topk is encode + broadcast query cross + TakeOrdered") {
    val p = plan("pq_topk")
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("pq_adc"), p)
  }

  test("cluster merge: touched-selection broadcasts its bounded sides, the assignment never sort-merges") {
    // mergeClusterIncrement's scale claim (r15 verdict #6): the two
    // semi-joins selecting the touched subgraph probe the assignment
    // with BROADCAST build sides (new-edge endpoints; the clusters they
    // land in — both bounded by the increment), so the
    // data-proportional assignment side is never shuffled or sorted for
    // the selection
    import graft.operators.DedupOps
    val base = DedupOps.stagedBaseCrossModalGroups(spark, sfDir)
      .select(col("doc_id"), col("cluster"), col("is_canonical"),
        col("cluster_size"))
    val edges = DedupOps.stagedIncrementCrossEdges(spark, sfDir)
    val (touched, stars, _) = DedupOps.touchedReclosure(base, edges)
    val tp = touched.queryExecution.executedPlan.toString
    assert(tp.contains("BroadcastHashJoin"), tp)
    assert(!tp.contains("SortMergeJoin"), tp)
    // the star reconstruction chains BOTH selections — endpoint semi
    // then cluster semi — and neither may degrade to a sort-merge
    val sp = stars.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(sp).size >= 2, sp)
    assert(!sp.contains("SortMergeJoin"), sp)
  }

  test("cluster merge staged: touched-selection partition-prunes both assignment keyings") {
    // the r16 scale shape (r15 verdict #6 'Done' bar): the per-batch
    // selection must reach the staged assignment as PARTITION filters —
    // endpoint lookup pruned to the batch's db buckets, member
    // expansion pruned to the touched clusters' cb buckets — with every
    // join broadcast (build sides bounded by the increment / the
    // overlay), never a sort-merge of the assignment
    import graft.operators.DedupOps
    val edges = DedupOps.stagedIncrementCrossEdges(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_xm_plan_staged_")
    graft.util.TempDirs.track(root)
    // a real overlay epoch so the anti-join/newest-wins legs are in play
    DedupOps.mergeClusterIncrementDelta(
        DedupOps.stagedBaseCrossModalGroups(spark, sfDir), edges)
      .limit(3).write.mode("overwrite").parquet(s"$root/epoch=0")
    val (touched, stars, _) = DedupOps.touchedReclosureStaged(spark, sfDir,
      root.toString, excludeEpoch = None, edges)
    // endpoint lookup (the checkpointed touched selection): db-pruned
    // scan of the doc-keyed projection, broadcast-only joins
    val tp = touched.queryExecution.executedPlan.toString
    assert(tp.contains("PartitionFilters: [db#"), tp)
    assert(!tp.contains("SortMergeJoin"), tp)
    assert("BroadcastHashJoin".r.findAllIn(tp).size >= 2, tp)
    // member expansion: cb-pruned scan of the cluster-keyed projection,
    // broadcast-only joins against the bounded checkpointed touched set
    val sp = stars.queryExecution.executedPlan.toString
    assert(sp.contains("PartitionFilters: [cb#"), sp)
    assert(!sp.contains("SortMergeJoin"), sp)
    assert("BroadcastHashJoin".r.findAllIn(sp).size >= 2, sp)
  }

  test("cluster overlay serve: broadcast anti-join on delta ids, epoch exclusion prunes partitions") {
    // servedClusterAssignment's scale claim: the base side anti-joins
    // against the BOUNDED delta-id set by broadcast (never a shuffle of
    // the assignment), and a replay's own-epoch exclusion reaches the
    // delta scan as a PARTITION filter — the doomed epoch's files are
    // pruned, not read
    import graft.operators.DedupOps
    val base = DedupOps.stagedBaseCrossModalGroups(spark, sfDir)
    val edges = DedupOps.stagedIncrementCrossEdges(spark, sfDir)
    val delta = DedupOps.mergeClusterIncrementDelta(base, edges)
    val root = java.nio.file.Files.createTempDirectory("graft_xm_plan_")
    graft.util.TempDirs.track(root)
    delta.write.mode("overwrite").parquet(s"$root/epoch=0")
    delta.limit(3).write.mode("overwrite").parquet(s"$root/epoch=1")
    val served = DedupOps.servedClusterAssignment(spark, base, root.toString,
      excludeEpoch = Some(1L))
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.replaceAll("\\s+", " ")
      .matches("(?s).*PartitionFilters: \\[.*epoch#\\d+.*"), p)
  }

  test("no batch query plans a cartesian, an unsanctioned nested-loop join, or a global sort") {
    // Output order is NOT part of the contract (the comparator sorts rows
    // before hashing), so a rangepartitioning exchange is always a wasted
    // corpus-wide sort; cartesians never belong; BNLJ only where the
    // build side is a provably tiny broadcast (1-row query vector /
    // 1-row corpus count / bounded centroid set).
    val bnljSanctioned = Set(
      "emb_topk", // 1-row query vector cross
      "pq_topk", // 1-row query vector cross for the ADC lookup table
      "boilerplate", // 1-row corpus-count cross for the df threshold
      "bm25", // 1-row corpus-stats cross (N, Σdl, per-term df)
      "rrf", // composes bm25 + embedding_topk_cosine, inheriting their crosses
      "emb_protos", // bounded staged-centroid-set cross (NumCentroids rows)
      "ccnet", // 1-row tercile-cutoff cross
      "ivfpq", // same 1-row query-vector cross as pq_topk (coarse+fine compose)
      "ivfpq_r") // ivfpq's crosses + the bounded RefineFactor×k shortlist broadcast
    // (embedding_ivf_topk's sanctioned crosses are construction-gated —
    // it sits in `skip` below, exercised by its own tests instead)
    // construction-time jobs are exercised elsewhere; skip the heavy ones
    val skip = Set("dup_groups", "filter_pipe", "emb_dup_groups",
      "lsh_dups", "emb_ivf_topk", "bucketed_join",
      "msglog_rt", "multi_scan", "rr_balance",
      "lm_ppl")
    SparkEntry.queries.keys
      .filterNot(_.startsWith("stream_")).filterNot(skip)
      .toSeq.sorted.foreach { k =>
        val p = plan(k)
        assert(!p.contains("CartesianProduct"), s"$k plans a cartesian:\n$p")
        if (!bnljSanctioned(k))
          assert(!p.contains("BroadcastNestedLoopJoin"), s"$k plans a BNLJ:\n$p")
        assert(!p.contains("Exchange rangepartitioning"), s"$k pays a global sort:\n$p")
      }
  }

  test("no operator collects to the driver") {
    // all queries build lazily without .collect(); constructing every
    // plan must not run a job (closed-form ops may run their one count)
    SparkEntry.queries.keys.filterNot(_.startsWith("stream_"))
      .filterNot(Set("rr_balance", "msglog_rt",
        "multi_scan", "bucketed_join",
        "lsh_dups",
        "emb_ivf_topk", // staging writes / C×dim centroid index
        "dup_groups", "filter_pipe",
        "emb_dup_groups", // CC fixpoint loop runs bounded jobs
        "pq_enc", "pq_topk", // staged PqCodes×dim codebook artifact
        "lm_ppl")) // bounded LM artifacts (total + top-V table)
      .foreach { k =>
        val df = SparkEntry.queries(k)(spark, sfDir)
        assert(df.queryExecution.logical != null)
      }
  }
}
