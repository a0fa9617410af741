package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The 100 TB knobs on the shared derivation caches:
  *   - Spark's `spark.sql.defaultCacheStorageLevel` selects the persist
  *     level of the cached dedup/vector-index nodes (plain `persist()`);
  *   - `spark.graft.dedup.checkpointDir` switches the connected-components
  *     fixpoint from localCheckpoint to reliable checkpoint().
  * Each test restores the session conf it touches (the suite shares one
  * session). */
class CachingSpec extends SparkSpec {

  /** A distinct input plan per test so no earlier suite has already cached
    * it (the FIRST cache call fixes the level for a plan). */
  private def freshDocs(marker: Int): DataFrame =
    Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 7 === marker % 7)
      .select(col("doc_id"), col("text"))

  private val LevelKey = "spark.sql.defaultCacheStorageLevel"

  test("dedup caches honor spark.sql.defaultCacheStorageLevel") {
    spark.conf.set(LevelKey, "DISK_ONLY")
    try {
      val ss = TextDedup.shingleSetsOf(freshDocs(1))
      assert(ss.storageLevel == StorageLevel.DISK_ONLY)
      val hashed = TextDedup.hashedShingleRowsOf(freshDocs(2))
      assert(hashed.storageLevel == StorageLevel.DISK_ONLY)
      val bands = TextDedup.bandDfOf(freshDocs(3))
      assert(bands.storageLevel == StorageLevel.DISK_ONLY)
      val pairs = TextDedup.jaccardPairsOf(freshDocs(4), 0.5)
      assert(pairs.storageLevel == StorageLevel.DISK_ONLY)
      // results are unchanged by the level: same pairs as the default-level
      // derivation over the identical slice (different plan via alias)
      Seq(ss, hashed, bands, pairs).foreach(_.unpersist())
    } finally spark.conf.unset(LevelKey)
  }

  test("dedup caches default to MEMORY_AND_DISK (cache() semantics)") {
    val ss = TextDedup.shingleSetsOf(freshDocs(5))
    try assert(ss.storageLevel == StorageLevel.MEMORY_AND_DISK)
    finally ss.unpersist()
  }

  test("vector index honors spark.sql.defaultCacheStorageLevel") {
    spark.conf.set(LevelKey, "DISK_ONLY")
    try {
      val idx = VectorOps.index(
        Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") % 11 === 6),
        "vec_id", "embedding", Seq("label"))
      try assert(idx.storageLevel == StorageLevel.DISK_ONLY)
      finally idx.unpersist()
    } finally spark.conf.unset(LevelKey)
  }

  test("unpersistDedupCaches releases non-default n-gram chains (nGrams param)") {
    // decontaminate at a production window size caches a PER-N chain
    // (shingleSetsNOf / hashedShingleRowsNOf at n=8) that the 3-gram
    // release paths never touched — the per-epoch leak the nGrams
    // parameter exists to close
    val corpus = freshDocs(6)
    val bench = freshDocs(0).limit(20)
    TextOps.decontaminate(corpus, bench, "doc_id", "text", nGrams = 8).count()
    // rebuild the internal plans (cache lookup is by canonicalized plan)
    def nrm(df: DataFrame) = df.select(col("doc_id").cast("long").as("doc_id"),
      col("text").cast("string").as("text"))
    val chain = Seq(TextDedup.shingleSetsNOf(nrm(corpus), 8),
      TextDedup.hashedShingleRowsNOf(nrm(corpus), 8),
      TextDedup.shingleSetsNOf(nrm(bench), 8),
      TextDedup.hashedShingleRowsNOf(nrm(bench), 8))
    assert(chain.forall(_.storageLevel != StorageLevel.NONE),
      "decontaminate(nGrams=8) should have cached the n=8 chains")
    TextOps.unpersistDedupCaches(corpus, "doc_id", "text", nGrams = Seq(8))
    TextOps.unpersistDedupCaches(bench, "doc_id", "text", nGrams = Seq(8))
    chain.foreach(c =>
      assert(c.storageLevel == StorageLevel.NONE, "n=8 chain not released"))
  }

  test("checkpointDir switches propagateLabels to reliable checkpoint, same labels") {
    val sp = spark
    import sp.implicits._
    // force the DISTRIBUTED fixpoint (tiny graphs take the driver-side
    // union-find, which never checkpoints)
    spark.conf.set("spark.graft.dedup.localCcMaxEdges", "0")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
      .toDF("id_a", "id_b")
    val base = TextDedup.propagateLabels(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    spark.conf.set("spark.graft.dedup.checkpointDir", dir)
    try {
      val withCp = TextDedup.propagateLabels(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(withCp == base)
      assert(base == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
        11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
      // the reliable checkpoint actually wrote RDD blocks under the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"no checkpoint files under $dir")
    } finally {
      spark.conf.unset("spark.graft.dedup.checkpointDir")
      spark.conf.unset("spark.graft.dedup.localCcMaxEdges")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
    }
  }

  test("conf checkpointDir wins over a pre-set different context dir") {
    val sp = spark
    import sp.implicits._
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val stale = java.nio.file.Files.createTempDirectory("graft_stale_ckpt_").toString
    val want = java.nio.file.Files.createTempDirectory("graft_conf_ckpt_").toString
    spark.sparkContext.setCheckpointDir(stale)
    spark.conf.set("spark.graft.dedup.checkpointDir", want)
    spark.conf.set("spark.graft.dedup.localCcMaxEdges", "0")
    try {
      TextDedup.propagateLabels(pairs).collect()
      // the reliable checkpoint landed under the CONF dir, not the stale one
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(want))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"checkpoint ignored spark.graft.dedup.checkpointDir=$want")
    } finally {
      spark.conf.unset("spark.graft.dedup.checkpointDir")
      spark.conf.unset("spark.graft.dedup.localCcMaxEdges")
      Seq(stale, want).foreach(d =>
        org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)))
    }
  }

  test("BoundedMemo builds once per key under races and never drops the installed value") {
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val dropped = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val memo = new BoundedMemo[String, Int](2, v => dropped.add(v))
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            latch.await()
            memo.getOrBuild("k") { Thread.sleep(30); built.incrementAndGet() }
          }
        })
      }
      latch.countDown()
      val vals = futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      // the r14 advisor's finding: a racing loser's onDrop(built) would
      // unpersist the WINNER's canonically-identical cache entry; the
      // per-key lock means the build runs once and no loser ever exists
      assert(built.get == 1, s"value built ${built.get} times despite the per-key lock")
      assert(vals.toSet == Set(1), s"racers saw different values: $vals")
      assert(dropped.isEmpty, s"onDrop fired outside eviction: $dropped")
      // LRU eviction is still the one drop path: exceed max=2
      memo.getOrBuild("k2")(100)
      memo.getOrBuild("k3")(200)
      assert(dropped.size == 1 && dropped.contains(1),
        s"eviction should have dropped the eldest entry, got $dropped")
    } finally pool.shutdown()
  }

  test("local union-find and distributed fixpoint produce identical labels") {
    val sp = spark
    import sp.implicits._
    // a chain (diameter > 1), a triangle, a singleton edge, and a
    // cross-linked pair of chains — the shapes that distinguish wrong
    // component algorithms
    val pairs = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L),
      (30L, 32L), (31L, 33L), (32L, 33L)).toDF("id_a", "id_b")
    val local = TextDedup.propagateLabels(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    spark.conf.set("spark.graft.dedup.localCcMaxEdges", "0")
    try {
      val dist = TextDedup.propagateLabels(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(local == dist, s"local $local != distributed $dist")
      assert(local == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
        30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L))
    } finally spark.conf.unset("spark.graft.dedup.localCcMaxEdges")
  }
}
