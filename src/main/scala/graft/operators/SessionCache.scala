package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialize-ONCE registry for BOUNDED derived frames, keyed by
  * (session, corpus dir, relation name).
  *
  * The dedup/curation catalog derives a handful of relations that many
  * queries consume: the exact-folded cluster map (dedup_canonical and all
  * three pipeline_curate forms), the pair relations that feed both their
  * standalone catalog entries and dedup_clusters_multi's edge union, and
  * the k-means centroids (embedding_kmeans, dedup_semantic_kmeans, the
  * multi-edge union). Inline "one query, one plan" recomputes each per
  * consuming query — at sf10 that re-pays ~25 s of CC loop per curate
  * query and ~25 s of Lloyd iterations per k-means consumer. At data
  * scale the production shape is publish-once (Sinks.mergeIntoKeyedParquet
  * snapshots); THIS cache is the in-session equivalent: the first
  * consumer materializes the relation as a checkpoint, every later
  * consumer in the same session scans the blocks.
  *
  * Admission rule — the difference between this and the r9 heap
  * poisoning (accumulated DEAD blocks of corpus-expanded frames): only
  * frames whose size is bounded by the CANDIDATE/PAIR set, the corpus
  * ROW COUNT at fixed narrow width (a cluster map: three longs per doc),
  * or a design constant (K·dim centroids) may enter. Corpus-EXPANDED
  * frames (shingle tables, band rows, fingerprint postings, per-vector
  * sign tables) must keep the retire-at-drain lifecycle — they are the
  * frames whose session-long residence is not survivable.
  *
  * Builders must return an EAGER checkpoint ([[Checkpoints.fresh]] /
  * [[Checkpoints.corpusScaled]]) or a local relation (a driver-finished
  * small input: [[graft.queries.SimilarityQueries.lloydTrain]]) and must
  * NOT retire it — a retired
  * frame's blocks die at the next harness drain, which is exactly what a
  * cached frame must survive. Inner intermediates of the build may (and
  * should) retire as usual: the returned frame is materialized before
  * the builder returns, so their blocks are already dead by drain time.
  *
  * Correctness: every cached relation is a DETERMINISTIC function of the
  * parquet snapshot under `dir` (capped joins, md5-derived hashes,
  * fixed-point k-means), so consumers see bit-identical rows whether
  * they hit or fill the cache — the driver's DuckDB oracle gate holds
  * with the cache active, and CacheSpec pins frame equality. The key
  * assumes `dir` is an immutable snapshot for the session's life (true
  * for Bench/Verify/tests); a long-lived serving session that re-points
  * or mutates a corpus dir must [[invalidate]] it first.
  */
object SessionCache {
  private val cache = mutable.Map.empty[(SparkSession, String, String), DataFrame]
  private var fillCount = 0L

  /** Get-or-build the named relation. The builder runs under the cache
    * lock — harnesses are sequential, and serializing concurrent HTTP
    * callers on a cold cache is strictly better than double-building a
    * multi-pass relation.
    */
  def frame(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    cache.synchronized {
      cache.getOrElseUpdate((s, dir, name), { fillCount += 1; build })
    }

  /** Drop (and free the blocks of) every cached relation under `dir` for
    * `s` — required before re-deriving from a corpus dir whose contents
    * changed (the cache otherwise serves the stale snapshot).
    */
  def invalidate(s: SparkSession, dir: String): Unit = cache.synchronized {
    val stale = cache.keys.filter(k => (k._1 eq s) && k._2 == dir).toList
    stale.foreach { k => Checkpoints.free(cache(k)); cache.remove(k) }
  }

  /** Drop everything (spec isolation). */
  def clear(): Unit = cache.synchronized {
    cache.values.foreach(Checkpoints.free)
    cache.clear()
  }

  /** Number of cached relations (spec instrumentation). */
  def size: Int = cache.synchronized(cache.size)

  /** Total builder invocations ever — lets a spec assert a second
    * consumer did NOT rebuild (fills stayed flat across the call).
    */
  def fills: Long = cache.synchronized(fillCount)
}
