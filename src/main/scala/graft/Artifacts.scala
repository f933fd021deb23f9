package graft

import org.apache.spark.sql.SparkSession

/** Registry of session-lifetime ARTIFACT RDD ids — materialized
  * frames an operator family deliberately shares across queries (the
  * production "cluster once, consume many" pattern, e.g.
  * [[graft.operators.Dedup.clusterArtifact]]).
  *
  * Why it exists: artifacts are `localCheckpoint(true)`-materialized,
  * which truncates lineage — an unpersist makes the frame
  * unrecomputable. The tools' per-query hygiene ([[dropUnpinned]]:
  * unpersist every persistent RDD between timed queries) must
  * therefore SKIP pinned ids; everything else about the isolation
  * discipline stays.
  */
object Artifacts {
  private val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def isPinned(rddId: Int): Boolean = pinned.contains(rddId)

  // monotone count of artifact materializations (cache-miss builds).
  // Bench reads it around each timed run: a query whose first run paid
  // an artifact build is re-run unconditionally, so the reported time
  // is the stable reuse time instead of flapping with the best-of-2
  // threshold (see VERDICT r18 — dedup_cluster_stats/graph_closeness
  // attribution).
  private val builds = new java.util.concurrent.atomic.AtomicLong(0L)
  def buildCount: Long = builds.get()

  // every Cache instance, so a session reset can evict their entries
  // (an entry whose pinned blocks were dropped is UNRECOMPUTABLE —
  // unpinning without evicting would hand later callers a dead frame)
  private val caches =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Cache[_, _]]()

  /** Drops EVERY artifact of `spark`: evicts all cache entries built
    * on that session (releasing their pinned checkpoint blocks) and
    * unpins/unpersists any stray pinned RDDs. Used by Bench between
    * the warmup pass and the timed runs, so warmup pays JIT/codegen
    * but never hands a timed query a memoized frame — each timed
    * query recomputes from the parquet inputs exactly as before.
    */
  def resetSession(spark: SparkSession): Unit = {
    caches.forEach(_.evictSession(spark))
    val sc = spark.sparkContext
    if (!sc.isStopped)
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (pinned.remove(id)) rdd.unpersist(blocking = false)
      }
  }

  /** Per-query cache hygiene for the harness tools: clears the
    * session's cached data and unpersists every persistent RDD EXCEPT
    * pinned artifacts — unpersisting a localCheckpointed artifact
    * would leave every later consumer of it a dead frame, and
    * cross-query artifact reuse is the production shape the tools
    * measure.
    */
  def dropUnpinned(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!isPinned(id)) rdd.unpersist(false)
    }
  }

  /** Runs `materialize`, pinning every persistent RDD it registers
    * (diff of the context's persistent-RDD ids around the call). Under
    * a concurrent warmup another query's checkpoint can land in the
    * window and get pinned too — a bounded over-approximation (a few
    * warmup-sized RDDs stay resident) that errs on the side of never
    * killing an artifact.
    */
  def pinning[T](spark: SparkSession)(materialize: => T): T =
    pinningTracked(spark)(materialize)._1

  /** [[pinning]] plus the set of newly-pinned ids, so a cache can
    * [[release]] them on eviction instead of leaking the checkpoint
    * blocks for the life of the session.
    *
    * Materialization windows are GLOBALLY serialized (one artifact
    * build at a time across every cache): with overlapping windows,
    * artifact A's before/after diff could claim artifact B's RDD ids,
    * and a later release of A would unpersist B's lineage-truncated
    * blocks — a permanently unrecomputable frame. Serializing makes
    * artifact-to-artifact attribution exact; only transient
    * checkpoints of concurrently-running plain queries can still land
    * in a window, and those are finished with by the time any release
    * could touch them.
    */
  private val materializeLock = new Object
  // ids claimed by NESTED windows on this thread (materializeLock is
  // reentrant, so a materialize closure that triggers another cache's
  // first build runs an inner window on the same thread; without this
  // the inner build's ids would ALSO land in the outer diff, and a
  // later eviction of the outer entry would release checkpoint blocks
  // still owned by the inner cache's live entry — a permanently
  // unrecomputable frame). Non-null only while a window is open.
  private val innerClaimed =
    new ThreadLocal[scala.collection.mutable.Set[Int]]
  def pinningTracked[T](spark: SparkSession)(materialize: => T): (T, Set[Int]) =
    materializeLock.synchronized {
      val sc = spark.sparkContext
      val enclosing = innerClaimed.get // non-null ⇒ we are nested
      innerClaimed.set(scala.collection.mutable.Set.empty[Int])
      try {
        val before = sc.getPersistentRDDs.keySet
        val out = materialize
        val fromInner = innerClaimed.get
        val ids = (sc.getPersistentRDDs.keySet -- before).toSet
          .filterNot(fromInner.contains)
        ids.foreach(pinned.add(_))
        if (enclosing != null) { // attribute our ids away from the
          enclosing ++= ids // grandparent window too
          enclosing ++= fromInner
        }
        (out, ids)
      } finally innerClaimed.set(enclosing)
    }

  /** Unpins and unpersists a pinned-id set (cache eviction). After
    * release the artifact frame is unrecomputable (checkpoint
    * truncated its lineage) — callers must drop every reference to it
    * in the same breath. No-op per id when the block already died
    * (e.g. the session stopped).
    */
  def release(spark: SparkSession, ids: Set[Int]): Unit = {
    ids.foreach(pinned.remove(_))
    val sc = spark.sparkContext
    if (!sc.isStopped)
      ids.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Session-scoped artifact cache: memoizes `materialize` per key,
    * pinning any RDDs it checkpoints, and — unlike a bare
    * ConcurrentHashMap — releases those blocks when an entry is
    * evicted and drops entries of stopped sessions on every access
    * (so neither checkpoint blocks nor SparkSession graphs outlive
    * their usefulness). `maxEntries` bounds total pinning via
    * least-recently-used eviction of SINGLE entries — never the key
    * being requested, and never wholesale: the former
    * release-everything overflow could unpersist an entry another
    * thread had just computed and still held, turning its
    * lineage-truncated frame permanently unrecomputable. All map
    * access is under the cache's monitor, so an eviction can never
    * interleave with a lookup of the victim. (A reference handed out
    * much earlier and still held while `maxEntries` newer artifacts
    * pile up would still break — the bound is a many-session leak
    * backstop, far above any real working set, not a hot LRU.)
    */
  final class Cache[K, V](maxEntries: Int = 64) {
    private case class Entry(value: V, spark: SparkSession, ids: Set[Int])
    // access-order: iteration starts at the least recently used entry
    private val map = new java.util.LinkedHashMap[K, Entry](16, 0.75f, true)

    /** Evicts every entry materialized on `spark`, releasing its
      * pinned blocks (see [[Artifacts.resetSession]]). Callers must
      * not hold references to the evicted frames.
      */
    private[Artifacts] def evictSession(spark: SparkSession): Unit =
      synchronized {
        val it = map.entrySet.iterator
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.spark eq spark) {
            release(e.getValue.spark, e.getValue.ids)
            it.remove()
          }
        }
      }
    // per-key builds in progress: same-key callers await the future
    // instead of re-materializing; OTHER keys are untouched
    private val inFlight =
      new java.util.HashMap[K, java.util.concurrent.CompletableFuture[V]]

    /** Memoized lookup. The cache monitor is held only for map
      * bookkeeping, NEVER across a materialization (a minutes-long
      * Spark job) — so a hit on one key cannot block behind a build
      * of another, and the lock order is strictly
      * materializeLock → monitor (the inverse never occurs, so a
      * materialize closure that consults another cache cannot
      * deadlock). Concurrent same-key callers coalesce onto one
      * build via an in-flight future; a failed build clears its
      * future so later callers retry.
      */
    def getOrCompute(key: K, spark: SparkSession)(materialize: => V): V = {
      var await: java.util.concurrent.CompletableFuture[V] = null
      var mine: java.util.concurrent.CompletableFuture[V] = null
      val cached: Option[V] = synchronized {
        val it = map.entrySet.iterator
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.spark.sparkContext.isStopped) {
            // the blocks died with the session — unpin only
            e.getValue.ids.foreach(pinned.remove(_))
            it.remove()
          }
        }
        val hit = map.get(key)
        if (hit != null) Some(hit.value)
        else {
          val f = inFlight.get(key)
          if (f != null) await = f
          else {
            mine = new java.util.concurrent.CompletableFuture[V]
            inFlight.put(key, mine)
          }
          None
        }
      }
      cached.getOrElse {
        if (await != null)
          try await.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        else
          try {
            val (v, ids) = pinningTracked(spark)(materialize)
            builds.incrementAndGet()
            synchronized {
              // evict BEFORE insert so the new entry can never be a
              // victim
              while (map.size >= maxEntries) {
                val eldest = map.entrySet.iterator.next()
                release(eldest.getValue.spark, eldest.getValue.ids)
                map.remove(eldest.getKey): Unit
              }
              map.put(key, Entry(v, spark, ids))
              inFlight.remove(key): Unit
            }
            mine.complete(v)
            v
          } catch {
            case t: Throwable =>
              synchronized { inFlight.remove(key): Unit }
              mine.completeExceptionally(t)
              throw t
          }
      }
    }

    // register LAST: the global `caches` set must never see a Cache
    // whose `map`/`inFlight` fields are still null (a resetSession
    // racing construction would NPE in evictSession otherwise)
    caches.add(this)
  }
}
