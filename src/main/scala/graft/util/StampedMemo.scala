package graft.util

import java.nio.file.{Files, Path, Paths}

/** Content stamp of the fixture files a staged artifact derives from —
  * the staleness key for [[StampedMemo]]. Folds every file's (relative
  * path, size, mtime) under each named table root into one Long, the
  * same freshness signal as `MsgLogSource`'s (size, mtime) entry-count
  * memo: fixture tables land by atomic rename, so an unchanged stamp
  * means unchanged bytes for staging purposes, and a REWRITTEN corpus
  * under the same path changes the stamp and forces a rebuild. Missing
  * roots stamp distinctly (a table appearing later must also rebuild).
  */
object CorpusStamp {

  private val Seed = 1125899906842597L

  def of(sfDir: String, tables: Seq[String]): Long =
    tables.foldLeft(Seed)((h, t) =>
      mixTree(h * 31 + t.hashCode, Paths.get(sfDir, s"$t.parquet")))

  /** The stamp of one file tree: every entry's relative path, and each
    * file's size and mtime. */
  def ofTree(root: Path): Long = mixTree(Seed, root)

  private def mixTree(h0: Long, root: Path): Long = {
    var h = h0
    def mix(v: Long): Unit = h = h * 31 + v
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try {
        val it = walk.sorted().iterator()
        while (it.hasNext) {
          val p = it.next()
          mix(root.relativize(p).toString.hashCode.toLong)
          if (Files.isRegularFile(p)) {
            mix(Files.size(p))
            mix(Files.getLastModifiedTime(p).toMillis)
          }
        }
      } finally walk.close()
    } else mix(-1L)
    h
  }
}

/** A staged-artifact memo keyed by corpus dir PLUS the corpus files'
  * [[CorpusStamp]]: the per-path staging caches (centroid index, PQ
  * codebook, cell-partitioned IVF index, LM model, BM25 index, media
  * tables) were memo-keyed by path alone, so a corpus regenerated in
  * place served the stale artifact until an explicit `drop*`. Stamping
  * costs one directory walk per access (fixture tables are single
  * files) and turns staleness from a documented caveat into a
  * non-event: stamp changed → rebuild; stamp unchanged → serve.
  *
  * `tables` names the fixture tables the artifact derives from — the
  * stamp deliberately covers only those, so e.g. a regenerated
  * `events.parquet` does not invalidate an embeddings-derived index.
  */
final class StampedMemo[V](tables: String*) {

  private val m =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, V)]()

  /** The fixture tables this memo stamps over — exposed so the durable
    * staged-artifact root can key dir names (and manifest entries) by
    * the SAME stamp the memo validates with. */
  def tableNames: Seq[String] = tables.toSeq

  /** The current corpus stamp for `sfDir` under this memo's tables. */
  def stamp(sfDir: String): Long = CorpusStamp.of(sfDir, tables)

  def get(sfDir: String)(build: => V): V = {
    val stamp = CorpusStamp.of(sfDir, tables)
    val hit = m.get(sfDir)
    if (hit != null && hit._1 == stamp) hit._2
    else synchronized {
      val again = m.get(sfDir)
      if (again != null && again._1 == stamp) again._2
      else {
        val v = build
        m.put(sfDir, (stamp, v))
        v
      }
    }
  }

  /** The cached value for `key`, if any — WITHOUT a freshness check or
    * build (test-only observability). */
  def peek(key: String): Option[V] = Option(m.get(key)).map(_._2)

  /** The corpus dirs currently memoized — so a drop path can retire
    * exactly this JVM's staged entries' bookkeeping, never another
    * serving JVM's. */
  def keys: Set[String] = {
    val b = Set.newBuilder[String]
    m.keySet.forEach(k => b += k)
    b.result()
  }

  def clear(): Unit = m.clear()

  /** Invalidate ONE corpus dir's entry, leaving other corpora staged —
    * the staleness-triggered retrain drops a single index without
    * un-staging every other fixture's artifacts. */
  def invalidate(key: String): Unit = m.remove(key)
}
