package graft.queries

import org.apache.spark.sql.DataFrame

/** Bounded LRU memo for session-lifetime derivation artifacts (trained
  * models, cached assignment frames) keyed by canonicalized plan or dir —
  * the shared shape of the cellsMemo/centsMemo/trainMemo/dsirModelMemo
  * family (r13 advisor): unlike a raw TrieMap it (a) EVICTS past `max`
  * entries, releasing the evicted value via `onDrop` (unpersist for
  * cached frames; models become unreachable and the ContextCleaner
  * reclaims their blocks), and (b) never strands a concurrent loser —
  * the build runs OUTSIDE the lock (it launches Spark jobs), and a build
  * that finds a winner already installed releases its own copy. */
private[queries] final class BoundedMemo[K, V](max: Int,
    onDrop: V => Unit = (_: V) => ()) {
  private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
      if (size > max) {
        try onDrop(e.getValue) catch { case _: Throwable => () }
        true
      } else false
  }
  // Builds run under a PER-KEY lock (not the map lock — builds launch
  // Spark jobs; not lock-free racing either): the old lost-race path
  // called onDrop(built) on the loser, but for persisted-DataFrame memos
  // the loser's persist() keys the SAME CacheManager entry as the
  // winner's (cache entries key on the canonicalized plan, and equal memo
  // keys mean canonically-equal plans here), so unpersisting the loser
  // silently uncached the winner (r14 advisor). With the per-key lock a
  // second builder of the same key waits, re-checks, and adopts the
  // winner — no duplicate persist is ever created, so eviction's onDrop
  // (on the sole installed value) is the only drop path left.
  private val inflight = new java.util.concurrent.ConcurrentHashMap[K, Object]()
  def getOrBuild(key: K)(build: => V): V =
    m.synchronized(Option(m.get(key))).getOrElse {
      val lock = inflight.computeIfAbsent(key, _ => new Object)
      try lock.synchronized {
        m.synchronized(Option(m.get(key))) match {
          case Some(winner) => winner
          case None =>
            val built = build
            // install-or-adopt, never overwrite: the lock entry is
            // removed after a build, so a waiter holding the STALE lock
            // and a newcomer holding a fresh one can both build the same
            // key after an LRU eviction (r15 review) — a blind put would
            // replace the first value without onDrop. Adopting the first
            // installed value keeps "one installed value per key"; the
            // adopter's own build needs no onDrop (for persisted-frame
            // memos both persists share ONE CacheManager entry — the
            // canonically-equal-plan fact the r14 fix rests on — and
            // model values just become unreachable).
            m.synchronized {
              Option(m.get(key)) match {
                case Some(winner) => winner
                case None => m.put(key, built); built
              }
            }
        }
      } finally inflight.remove(key, lock)
    }
}

/** Lineage cuts for the shared derivation caches. The caches themselves
  * are plain `persist()` calls: Spark resolves their level from
  * `spark.sql.defaultCacheStorageLevel` (MEMORY_AND_DISK by default;
  * DISK_ONLY where they outgrow executor memory at TB scale). */
private[queries] object Caching {

  /** Lineage cut for driver-side fixpoint loops: `localCheckpoint` by
    * default (blocks on executors — fine single-JVM, lossy under executor
    * failure); when `spark.graft.dedup.checkpointDir` is set, a RELIABLE
    * `checkpoint()` into that directory — the cluster-scale option (HDFS/
    * object-store backed, survives executor loss). The conf is read per
    * call, so a session can opt in before running the clustering queries. */
  def cutLineage(df: DataFrame, eager: Boolean): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption("spark.graft.dedup.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        val sc = s.sparkContext
        // honor the conf even when some earlier code already set a
        // DIFFERENT context checkpoint dir — silently checkpointing into
        // the stale location would ignore the operator's explicit choice.
        // (setCheckpointDir creates a fresh unique subdir; already-written
        // checkpoints under the old dir stay valid.)
        // getCheckpointDir returns the scheme-qualified per-context subdir
        // (file:/<dir>/<uuid>), so compare on the scheme-stripped prefix
        def norm(p: String) = p.stripPrefix("file:")
        val current = sc.getCheckpointDir
        if (!current.exists(c => norm(c).startsWith(norm(dir)))) {
          current.foreach(old => Console.err.println(
            s"[graft] resetting checkpoint dir $old -> $dir (spark.graft.dedup.checkpointDir)"))
          sc.setCheckpointDir(dir)
        }
        df.checkpoint(eager)
      case _ => df.localCheckpoint(eager)
    }
  }
}
