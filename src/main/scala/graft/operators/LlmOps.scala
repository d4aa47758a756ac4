package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Fixtures

/** LLM-training-data pipeline operators (the north-star extensions from
  * BASELINE.json / SURVEY §2.3 [N] rows): text analysis, document
  * deduplication, and embedding similarity over the `documents` /
  * `embeddings` fixtures. The reference has no analog for these — its
  * payloads are opaque bytes (`/root/reference/src/message/codec.rs:20`);
  * these ops are what a consumer of that message stream runs downstream.
  *
  * Scale design notes (100 TB):
  *  - every op is a `DataFrame => DataFrame` with one shuffle keyed on a
  *    hash/signature, never an all-pairs comparison;
  *  - tokenization/normalization stays inside whole-stage codegen (built-in
  *    string/array functions, no UDFs);
  *  - top-k is `orderBy.limit` which Spark plans as TakeOrderedAndProject
  *    (per-partition heaps + driver merge, no global sort);
  *  - signatures are md5 (engine-portable, uniformly distributed — the
  *    shuffle key never skews even if the corpus does).
  */
object LlmOps {

  /** Normalized token array: lowercase, trim, split on whitespace runs.
    * Portable: identical semantics in DuckDB via
    * `regexp_split_to_array(trim(lower(text)), '\s+')`.
    */
  private def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  // ---------------------------------------------------------------------
  // Text analysis
  // ---------------------------------------------------------------------

  /** Token frequency top-k over the corpus. explode → map-side-combined
    * groupBy: the shuffle carries one row per distinct word per partition,
    * not one per token. Top-k is TakeOrderedAndProject.
    */
  def textTokenizeCounts(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(k)

  /** Corpus-level bigram frequency top-k — the n-gram statistics pass an
    * LM-data pipeline runs for vocabulary analysis, boilerplate survey,
    * and n-gram-LM estimation (the unigram analog feeds
    * `lm_ppl`). The bigram list is built IN-ROW from the
    * token array (two aligned `slice`s fused by `zip_with`, all inside
    * whole-stage codegen — no self-join of an exploded token table, which
    * at 100 TB would shuffle one row per token²-ish pair); only then does
    * the single explode → map-side-combined groupBy → TakeOrdered run,
    * the exact `textTokenizeCounts` skeleton with the same skew-free
    * aggregate shape (distinct bigrams per partition, not token count,
    * crosses the one exchange).
    */
  def corpusBigramTopK(docs: DataFrame, k: Int): DataFrame = {
    val w = tokens(col("text"))
    // one-token (or empty) docs produce zero bigrams: slice length is
    // clamped at 0 — greatest() keeps slice()'s non-negative-length
    // contract rather than relying on it to tolerate -1
    val n = greatest(size(w) - 1, lit(0))
    val bg = zip_with(slice(w, lit(1), n), slice(w, lit(2), n),
      (a, b) => concat(a, lit(" "), b))
    docs.select(explode(bg).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)
  }

  // ---------------------------------------------------------------------
  // Deduplication
  // ---------------------------------------------------------------------

  /** Near-duplicate detection via a bag-of-distinct-words signature:
    * normalize → tokenize → distinct → sort → md5. Documents that share a
    * vocabulary (word order / frequency ignored) collapse into one group;
    * the survivor is the lowest doc_id (deterministic, unlike
    * `dropDuplicates`). This is the hash-bucketed dedup shape: signature
    * computation is embarrassingly parallel, the single shuffle is on the
    * 128-bit signature (uniform, skew-free), and the aggregate combines
    * map-side. All-pairs comparison never happens — the same plan works on
    * 10^11 documents. (MinHash/LSH banding for *partial* overlap reuses
    * this skeleton with band hashes as the group key.)
    */
  def docNearDedup(docs: DataFrame): DataFrame = {
    val sig = md5(
      array_join(sort_array(array_distinct(tokens(col("text")))), " ")
        .cast("binary"))
    docs.select(sig.as("sig"), col("doc_id"))
      .groupBy("sig")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  // ---------------------------------------------------------------------
  // Similarity search
  // ---------------------------------------------------------------------

  import VectorMath.{dot, sqnorm}

  /** Brute-force cosine top-k against one query vector: the exact baseline
    * ANN variants are measured against. The 1-row query side is broadcast
    * (explicit hint), so the scan side streams with zero shuffle and the
    * top-k is a TakeOrderedAndProject — at 100 TB this reads every vector
    * once, which is the correct brute-force plan. Cosine is rounded to 6
    * decimals so the value (and the order, which is on the rounded value)
    * is stable across summation orders/engines.
    */
  def embeddingTopKCosine(emb: DataFrame, queryId: Long, k: Int): DataFrame = {
    graft.GraftSession.registerFunctions(emb.sparkSession)
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    emb.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        VectorMath.cosine(col("embedding"), col("qe")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** RRF discount constant — the standard 60 (Cormack/Clarke/Buettcher's
    * reciprocal-rank-fusion paper; every production hybrid search ships
    * this default). */
  val RrfK = 60

  /** Contract-key result size for [[hybridRrfTopK]]. */
  val HybridK = 10

  /** Hybrid retrieval — Reciprocal Rank Fusion of the LEXICAL ranking
    * ([[TextOps.docBm25]]) and the VECTOR ranking
    * ([[embeddingTopKCosine]]): `rrf = Σ 1/(60 + rank)`, a document
    * absent from a ranking contributing zero. This is the standard
    * hybrid-search shape (BM25 recalls exact keywords the embedding
    * blurs; the embedding recalls paraphrases BM25 misses; RRF needs no
    * score calibration between the two, which is why it won).
    *
    * Scale shape: each side is its own bounded top-N (corpus scan →
    * TakeOrdered, the component plans); everything after — rank windows,
    * the full-outer fusion join, the final top-k — runs on ≤ N+N rows.
    * The rank window is a single-partition sort of N rows, NOT a corpus
    * sort. Numerics: ranks are exact integers and `1.0/(60+r)` divides
    * identically in both engines, summed in pinned order — no rounding
    * needed (the component cosine is already rounded at its groupBy
    * boundary).
    */
  def hybridRrfTopK(docs: DataFrame, emb: DataFrame,
      terms: Seq[String] = TextOps.Bm25Terms, queryId: Long = QUERY_VEC,
      k: Int = HybridK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextOps.docBm25(docs, terms)
      .select(col("doc_id"), row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id")))
        .cast("long").as("rl"))
    val vec = embeddingTopKCosine(emb, queryId, TOP_K_VECS)
      .select(col("vec_id").as("doc_id"), row_number()
        .over(Window.orderBy(col("cosine").desc, col("vec_id")))
        .cast("long").as("rv"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        coalesce(col("rl"), lit(0L)).as("lex_rank"),
        coalesce(col("rv"), lit(0L)).as("vec_rank"),
        (when(col("rl").isNull, lit(0.0))
          .otherwise(lit(1.0) / (lit(RrfK) + col("rl"))) +
         when(col("rv").isNull, lit(0.0))
          .otherwise(lit(1.0) / (lit(RrfK) + col("rv")))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  // ---------------------------------------------------------------------
  // Multimodal columns
  // ---------------------------------------------------------------------

  /** Typed stats over an opaque vector column, per label: the pattern for
    * multimodal payloads (image/audio embeddings ride as arrays; bytes ride
    * as binary). Width stats are exact ints; the L2-norm stats fold inside
    * the row (higher-order fns, no UDF) and aggregate map-side.
    */
  def multimodalWidthStats(emb: DataFrame): DataFrame =
    emb.select(
      col("label"),
      size(col("embedding")).as("width"),
      sqrt(sqnorm(col("embedding"))).as("l2"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        min(col("width")).as("min_w"),
        max(col("width")).as("max_w"),
        round(avg(col("l2")), 6).as("avg_norm"),
        round(min(col("l2")), 6).as("min_norm"),
        round(max(col("l2")), 6).as("max_norm"))

  /** Quality floor for [[docFilterPipeline]] — the pre-filter threshold a
    * real pipeline tunes per corpus; 0.4 splits the fixture. */
  val QualityThreshold = 0.4

  /** The whole curation pipeline as ONE query — what actually runs before
    * a training data release, composed from the pieces this engine
    * implements separately: benchmark holdout → contamination →
    * duplicate-cluster canonicalization → language filter → quality
    * floor, first matching reason wins. Output is the per-document
    * verdict (`keep` = survived every stage), the artifact a release
    * audit reads.
    *
    * Shape: language + quality come from [[TextOps.textAnnotations]] —
    * one corpus pass, NOT a join of the two standalone ops. The
    * contamination and duplicate lists arrive as left joins keyed on
    * doc_id and are deliberately NOT broadcast-hinted: both scale with
    * the corpus's contamination/duplicate density (web corpora run
    * 30-50% duplicates), the same unbounded-"small"-side trap as the
    * verified-dups candidate list; AQE may still elect a runtime
    * broadcast when they measure small.
    *
    * At 100 TB the dup-cluster and contamination stages are staged
    * artifacts recomputed on their own cadence, not per pipeline run —
    * pass them via `dupGroups`/`contamination` (the
    * [[SimilarityOps.embeddingIvfTopK]] staged-index precedent); omitted,
    * each derives from `docs` (the driver contract runs cold).
    */
  def docFilterPipeline(docs: DataFrame,
      dupGroups: Option[DataFrame] = None,
      contamination: Option[DataFrame] = None): DataFrame = {
    val ann = TextOps.textAnnotations(docs)
    val dups = dupGroups.getOrElse(DedupOps.docDupGroups(docs))
      .filter(col("is_canonical") === 0)
      .select(col("doc_id"), lit(1).as("dup"))
    val contam = contamination.getOrElse(DedupOps.docDecontaminate(docs))
      .select(col("doc_id"), lit(1).as("contam"))
    ann
      .join(contam, Seq("doc_id"), "left")
      .join(dups, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(DedupOps.DecontaminateProbeMod)) === 0, "benchmark")
          .when(col("contam").isNotNull, "contaminated")
          .when(col("dup").isNotNull, "duplicate")
          .when(col("pred_lang") =!= "en", "language")
          .when(col("quality") < QualityThreshold, "quality")
          .otherwise("keep").as("verdict"))
      .withColumn("keep", (col("verdict") === "keep").cast("int"))
  }

  /** Quality-aware canonical election — the refinement of
    * [[DedupOps.docDupGroups]]' min-id canonical that production dedup
    * actually ships: within each duplicate cluster KEEP the
    * highest-quality member (ties by min doc_id), drop the rest. Min-id
    * election is arbitrary — when a cluster holds a clean page and its
    * ad-mangled mirror, the kept one should be chosen by the quality
    * signal the pipeline already computes, not by crawl order.
    *
    * The election is [[DedupOps.keepBestElection]], shared with the
    * cross-modal keys. Quality is a pure per-row projection joined to
    * the cluster assignment on doc_id — the join ships ONE double per
    * document, never text. The winner is a `min_by` argmin evaluated as
    * a window over the cluster, so the members subtree (docs scan +
    * quality kernel + groups join) runs in a SINGLE scan with one
    * exchange on `cluster`. The accepted cost is skew: a mega-cluster
    * (identical boilerplate) lands in one task, which the window cannot
    * split (the PlanSpec guard records this trade). Pass a staged
    * `dupGroups` artifact in production (the [[docFilterPipeline]]
    * parameter precedent); omitted, clusters derive from `docs` cold.
    */
  def docKeepBest(docs: DataFrame,
      dupGroups: Option[DataFrame] = None): DataFrame =
    DedupOps.keepBestElection(docs, dupGroups.getOrElse(DedupOps.docDupGroups(docs)))

  // ---------------------------------------------------------------------
  // Driver-contract wiring
  // ---------------------------------------------------------------------

  private val TOP_K_WORDS = 50
  private val QUERY_VEC = 0L
  private val TOP_K_VECS = 20

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tok_counts" ->
      ((s, d) => textTokenizeCounts(Fixtures.documents(s, d), TOP_K_WORDS)),
    "bigrams" ->
      ((s, d) => corpusBigramTopK(Fixtures.documents(s, d), TOP_K_WORDS)),
    // takedown (r19): a retracted doc neither keeps a group nor counts
    // in n_dups — excluded from the INPUT (exact here: no bucket caps,
    // so pre-filter equals the no-tombstone result minus the doc)
    "doc_nd" ->
      ((s, d) => docNearDedup(DedupOps.excludeTombstonedDocs(s, d,
        Fixtures.documents(s, d), Seq("doc_id")))),
    "emb_topk" ->
      ((s, d) => embeddingTopKCosine(Fixtures.embeddings(s, d), QUERY_VEC, TOP_K_VECS)),
    "mm_widths" ->
      ((s, d) => multimodalWidthStats(Fixtures.embeddings(s, d))),
    // the dup-cluster and contamination stages come staged (the scale
    // note below made real in round 13): the pipeline query joins
    // scalar artifacts, it does not re-cluster the corpus
    "filter_pipe" ->
      ((s, d) => docFilterPipeline(Fixtures.documents(s, d),
        dupGroups = Some(DedupOps.stagedDupGroups(s, d)),
        contamination = Some(DedupOps.stagedContamination(s, d)))),
    // "keep_best" — short by design (bench line budget, the pq_enc precedent)
    "keep_best" ->
      ((s, d) => docKeepBest(Fixtures.documents(s, d),
        dupGroups = Some(DedupOps.stagedDupGroups(s, d)))),
    "rrf" -> ((s, d) => hybridRrfTopK(
      Fixtures.documents(s, d), Fixtures.embeddings(s, d),
      TextOps.Bm25Terms, QUERY_VEC, HybridK)))

  /** The pipeline oracle composes the component oracles as parenthesized
    * subqueries (each carries its own WITH chain — the dup-groups one its
    * own WITH RECURSIVE), mirroring exactly how the Spark side composes
    * the operators. */
  private def filterPipelineOracle: String =
    s"""SELECT doc_id, verdict, CAST(verdict = 'keep' AS INTEGER) AS keep
        FROM (
          SELECT l.doc_id,
                 CASE WHEN l.doc_id % ${DedupOps.DecontaminateProbeMod} = 0 THEN 'benchmark'
                      WHEN c.doc_id IS NOT NULL THEN 'contaminated'
                      WHEN g.doc_id IS NOT NULL THEN 'duplicate'
                      WHEN l.pred_lang <> 'en' THEN 'language'
                      WHEN q.quality < $QualityThreshold THEN 'quality'
                      ELSE 'keep' END AS verdict
          FROM (${TextOps.oracle("text_lang_id")}) l
          JOIN (${TextOps.oracle("tq_score")}) q USING (doc_id)
          LEFT JOIN (${DedupOps.oracle("decontam")}) c ON c.doc_id = l.doc_id
          LEFT JOIN (SELECT doc_id FROM (${DedupOps.oracle("dup_groups")})
                     WHERE is_canonical = 0) g ON g.doc_id = l.doc_id)"""

  /** Keep-best oracle — composes the dup-groups (WITH RECURSIVE) and
    * quality oracles as parenthesized subqueries, electing with the same
    * (quality desc, doc_id) window order the Spark side uses. */
  private def keepBestOracle: String =
    s"""SELECT g.doc_id, g.cluster, g.cluster_size, q.quality,
               CAST(row_number() OVER (PARTITION BY g.cluster
                                       ORDER BY q.quality DESC, g.doc_id) = 1
                    AS INTEGER) AS keep
        FROM (${DedupOps.oracle("dup_groups")}) g
        JOIN (${TextOps.oracle("tq_score")}) q ON g.doc_id = q.doc_id"""

  private def cosineOracle: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $QUERY_VEC),
        p AS (SELECT e.vec_id,
                     sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qe[t.i] AS DOUBLE)) AS dot,
                     sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE)) AS n1,
                     sum(CAST(q.qe[t.i] AS DOUBLE) * CAST(q.qe[t.i] AS DOUBLE)) AS n2
              FROM embeddings e, q, range(1, 65) t(i)
              WHERE e.vec_id <> $QUERY_VEC
              GROUP BY e.vec_id)
        SELECT vec_id, round(dot / (sqrt(n1) * sqrt(n2)), 6) AS cosine
        FROM p ORDER BY cosine DESC, vec_id LIMIT $TOP_K_VECS"""

  /** RRF oracle — composes the two component oracles as parenthesized
    * subqueries (the [[filterPipelineOracle]] precedent), ranks each with
    * the same (score desc, id) order the Spark side uses, fuses with the
    * identical CASE arithmetic. */
  private def rrfOracle: String =
    s"""WITH lex AS (SELECT doc_id,
                            row_number() OVER (ORDER BY score DESC, doc_id) AS rl
                     FROM (${TextOps.oracle("bm25")})),
          vec AS (SELECT vec_id AS doc_id,
                         row_number() OVER (ORDER BY cosine DESC, vec_id) AS rv
                  FROM ($cosineOracle))
        SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
               CAST(coalesce(rl, 0) AS BIGINT) AS lex_rank,
               CAST(coalesce(rv, 0) AS BIGINT) AS vec_rank,
               (CASE WHEN rl IS NULL THEN 0.0 ELSE 1.0 / ($RrfK + rl) END
                + CASE WHEN rv IS NULL THEN 0.0 ELSE 1.0 / ($RrfK + rv) END) AS rrf
        FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
        ORDER BY rrf DESC, doc_id LIMIT $HybridK"""

  def oracle: Map[String, String] = Map(
    "filter_pipe" -> filterPipelineOracle,
    "keep_best" -> keepBestOracle,
    "tok_counts" ->
      s"""SELECT word, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
                FROM documents)
          WHERE word <> '' GROUP BY word
          ORDER BY n DESC, word LIMIT $TOP_K_WORDS""",
    // range(1, len) is empty for one-token docs, mirroring the Spark
    // side's clamped slices; ws is 1-indexed in DuckDB like slice() is
    // in Spark, so ws[i] || ' ' || ws[i+1] walks the same pairs
    "bigrams" ->
      s"""SELECT bigram, CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(list_transform(range(1, len(ws)),
                                             i -> ws[i] || ' ' || ws[i + 1])) AS bigram
                FROM (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
                      FROM documents))
          GROUP BY bigram ORDER BY n DESC, bigram LIMIT $TOP_K_WORDS""",
    "doc_nd" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
                 regexp_split_to_array(trim(lower(text)), '\s+'))), ' ')) AS sig,
                min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
         FROM documents GROUP BY 1""",
    "emb_topk" -> cosineOracle,
    "rrf" -> rrfOracle,
    "mm_widths" ->
      """SELECT label, CAST(count(*) AS BIGINT) AS n,
                CAST(min(len(embedding)) AS INTEGER) AS min_w,
                CAST(max(len(embedding)) AS INTEGER) AS max_w,
                round(avg(l2), 6) AS avg_norm,
                round(min(l2), 6) AS min_norm,
                round(max(l2), 6) AS max_norm
         FROM (SELECT label, embedding,
                      sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
               FROM embeddings)
         GROUP BY label ORDER BY label""")
}
