package graft.operators

import graft.SparkSpec
import graft.queries.Tables
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {

  test("same-bucketed join plans without exchanges and matches the plain join") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val ord = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice")
    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    Bucketing.writeBucketed(ord, "ord_bucketed", "o_orderkey", 8)

    // disable broadcast so the join exercises the bucketed SMJ path (at
    // test scale Spark would otherwise broadcast the small side)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (plan, row) =
      try {
        val joined = Bucketing.coLocatedJoin(spark, "li_bucketed", "ord_bucketed",
          "l_orderkey", "o_orderkey")
        val agg = joined.agg(count(lit(1)).as("n"), sum("l_extendedprice").as("s"))
        val r = agg.collect()(0)
        (agg.queryExecution.executedPlan.toString, r)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // a sort-merge join with ZERO hash-partition shuffles: bucket layout
    // satisfies the join's distribution requirement on both sides
    assert(plan.contains("SortMergeJoin"), s"not an SMJ:\n${plan.take(2000)}")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${plan.take(2500)}")
    assert(plan.contains("Bucketed: true"))

    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)), sum("l_extendedprice")).collect()(0)
    assert(row.getLong(0) == plain.getLong(0))
    assert(math.abs(row.getDouble(1) - plain.getDouble(1)) < 1e-6)
  }

  test("samePath: the compact/rebuild live-location guard across schemes and spellings") {
    // same location, different spellings → equal
    assert(Bucketing.samePath(spark, "/tmp/graft_sp/x", "file:/tmp/graft_sp/x"))
    assert(Bucketing.samePath(spark, "/tmp/graft_sp/x/", "/tmp/graft_sp/x"))
    // genuinely different locations → unequal
    assert(!Bucketing.samePath(spark, "/tmp/graft_sp/x", "/tmp/graft_sp/y"))
    // suffix coincidence must NOT match (the old endsWith guard's bug class)
    assert(!Bucketing.samePath(spark, "/a/root/idx/vecs", "/root/idx/vecs"))
    // scheme-qualified remote location vs same-suffix local path: the
    // java.io.File comparison this replaced silently never matched the
    // remote side — a rebuild could target the live remote index
    spark.sparkContext.hadoopConfiguration.set("fs.mock.impl",
      classOf[graft.sources.MockRemoteFileSystem].getName)
    assert(!Bucketing.samePath(spark, "mock://tmp/graft_sp/x", "/tmp/graft_sp/x"))
    assert(Bucketing.samePath(spark, "mock://tmp/graft_sp/x", "mock://tmp/graft_sp/x"))
  }

  test("appendWave registers Hive-escaped STRING partition values unescaped") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bk_esc").toString
    // wave 0 via the build path; the string partition value carries the
    // characters Hive escapes in directory names (':' → %3A)
    Bucketing.writePartitionedBucketedExternal(
      Seq((1L, "a:b c", 0)).toDF("id", "tag", "wave"),
      "bk_esc_t", Seq("wave", "tag"), Seq("id"), s"$dir/t", 2)
    Bucketing.commitWave(spark, dir, 0)
    val batch = Seq((2L, "d:e f", 1)).toDF("id", "tag", "wave")
      .repartition(2, col("id"))
    Bucketing.appendWave(spark, batch, "bk_esc_t", Seq("id"),
      Seq("tag"), 2, dir, 1)
    // the catalog must hold the TRUE value (it re-derives the escaped
    // location itself); splicing the raw directory name registered the
    // still-escaped string "d%3Ae f"
    val got = spark.table("bk_esc_t").where(col("wave") === 1)
      .select("tag").collect().map(_.getString(0)).toSeq
    assert(got == Seq("d:e f"), s"registered partition value wrong: $got")
    assert(spark.sql("SHOW PARTITIONS bk_esc_t").collect()
      .map(_.getString(0)).exists(_.contains("tag=d%3Ae f")),
      "partition location lost its Hive escaping")
  }

  test("two threads committing one wave: exactly one wins and its manifest body is whole") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bk_race").toString
    // enough files that a body written after the marker's creation would
    // be visibly partial to a reader racing the commit
    Bucketing.writePartitionedBucketedExternal(
      (0 until 400).map(i => (i.toLong, i % 50, 0)).toDF("id", "p", "wave"),
      "bk_race_t", Seq("wave", "p"), Seq("id"), s"$dir/t", 4)
    val expected = Bucketing.listFileStatuses(
      new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf()),
      new org.apache.hadoop.fs.Path(s"$dir/t/wave=0"))
      .count(_.getPath.getName.startsWith("part-"))
    assert(expected >= 50, s"fixture: $expected files")
    val marker = new java.io.File(s"$dir/_wave_0")
    for (round <- 0 until 10) {
      marker.delete()
      val start = new java.util.concurrent.CountDownLatch(1)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      // a reader polling the marker's size in a tight loop while it is
      // being published: once the marker exists it must already hold
      // the whole body (a create-then-write publish shows 0 or a prefix)
      val sizes = scala.collection.mutable.Set.empty[Long]
      val reader = new Thread(() => {
        start.await()
        while (!done.get) {
          try sizes += java.nio.file.Files.size(marker.toPath)
          catch { case _: java.nio.file.NoSuchFileException => () }
        }
      })
      reader.start()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val results =
        try {
          val fs = (0 until 2).map(_ => pool.submit(
            new java.util.concurrent.Callable[Boolean] {
              def call(): Boolean = {
                start.await()
                scala.util.Try(Bucketing.commitWave(spark, dir, 0)).isSuccess
              }
            }))
          start.countDown()
          fs.map(_.get())
        } finally { pool.shutdown(); done.set(true); reader.join() }
      assert(results.count(identity) == 1,
        s"round $round: exactly one commit must win: $results")
      val body = Bucketing.waveManifest(spark, dir, 0)
      assert(body.exists(_.size == expected),
        s"round $round: winner's body lists ${body.map(_.size)} of " +
          s"$expected files")
      assert(sizes.forall(_ == marker.length()),
        s"round $round: a reader saw a partial marker body: " +
          s"${sizes.toSeq.sorted} of ${marker.length()} bytes")
      // the body was staged under a hidden name and nothing is left over
      assert(!new java.io.File(dir).list().exists(_.startsWith(".stage_")))
    }
  }

  test("createNoOverwrite distinguishes collisions from environmental FS errors") {
    val local = java.nio.file.Files.createTempDirectory("bk_cno")
    val fs = new GrumpyCreateFs
    fs.initialize(java.net.URI.create("grumpy:///"),
      new org.apache.hadoop.conf.Configuration())
    // collision: the path EXISTS, so the opaque IOException means "lost
    // the race" → false (previously only matched via message sniffing,
    // which also swallowed genuine failures)
    val existing = new org.apache.hadoop.fs.Path(
      s"grumpy://${local.toString}/taken")
    java.nio.file.Files.createFile(
      java.nio.file.Path.of(local.toString, "taken"))
    assert(!Bucketing.createNoOverwrite(fs, existing))
    // environmental failure: the path does NOT exist — the error must
    // surface, not read as 64 retries of "a writer won this number"
    val missing = new org.apache.hadoop.fs.Path(
      s"grumpy://${local.toString}/does/not/exist/lease")
    val e = intercept[java.io.IOException](
      Bucketing.createNoOverwrite(fs, missing))
    assert(e.getMessage.contains("Parent path does not exist"))
  }
}

/** A non-file-scheme FS whose create always fails with an IOException
  * whose message contains "exist" — the r16 advisor's trap for
  * [[Bucketing.createNoOverwrite]]'s message sniffing. */
class GrumpyCreateFs extends graft.sources.MockRemoteFileSystem {
  override def getScheme: String = "grumpy"
  override def getUri: java.net.URI = java.net.URI.create("grumpy:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    throw new java.io.IOException(s"Parent path does not exist: $f")
}
