package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Test-table loaders over the driver-provided parquet dirs (TESTDATA.md).
  * Every loader both returns the DataFrame and registers a same-named temp
  * view so SQL-path queries (GraftEngine) see the same catalog.
  */
object Tables {
  val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize a timestamp column to Spark's session-tz TIMESTAMP whatever
    * the parquet writer produced. Source shapes seen in the wild:
    *   - INT64 TIMESTAMP(NANOS) read as Long under the nanosAsLong legacy
    *     conf → exact integer `div 1000` to micros (epoch-nanos ~1.7e18
    *     exceed double's 53-bit exact range, so `/ 1000.0` could be ~1us
    *     off), then timestamp_micros;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false) inferred as
    *     TIMESTAMP_NTZ → cast to TIMESTAMP (value-identical under the UTC
    *     session timezone all entrypoints set);
    *   - already TIMESTAMP → pass through.
    * Branching on the READ schema (not assuming the writer) is what keeps
    * this stable across data regenerations and parquet-jar upgrades.
    *
    * The Long branch disambiguates UNITS per row by magnitude instead of
    * assuming nanos (the round-10 lesson was precisely a writer changing
    * units under a loader that assumed): for epochs in 1973–2096,
    * nanos ≥ 1e17 > max-micros ~4e15, micros ≥ 1e14 > max-millis ~4e12,
    * millis ≥ 1e11 > max-seconds ~4e9 — the ranges cannot overlap, so a
    * plain-INT64 micros/millis/seconds writer produces correct
    * timestamps rather than silently 1000×-off ones. Pure integer CASE,
    * codegen-friendly, no eager sampling job.
    *
    * Values whose interpreted timestamp falls OUTSIDE 1973–2096 fail
    * loudly (`raise_error` at scan time) instead of returning a
    * silently-1000×-off timestamp: below the window the heuristic is
    * genuinely ambiguous (millis before 1973-03 look like seconds,
    * nanos before ~1973-01 look like micros), so an out-of-range writer
    * must surface as an error — the same fail-loud contract the NTZ
    * branch gets from Spark's own cast. */
  def normalizeTs(df: DataFrame, colName: String): DataFrame =
    df.schema(colName).dataType match {
      case LongType =>
        val micros =
          s"""CASE WHEN abs(`$colName`) >= 100000000000000000 THEN `$colName` div 1000
             |     WHEN abs(`$colName`) >= 100000000000000 THEN `$colName`
             |     WHEN abs(`$colName`) >= 100000000000 THEN `$colName` * 1000
             |     ELSE `$colName` * 1000000 END""".stripMargin
        // 1973-01-01 .. 2096-01-01 in epoch micros — the window where the
        // unit ranges above cannot overlap
        df.withColumn(colName, timestamp_micros(expr(
          s"""CASE WHEN ($micros) BETWEEN 94694400000000 AND 3975868800000000
             |     THEN ($micros)
             |     ELSE raise_error(concat('normalizeTs: `$colName` value ',
             |       CAST(`$colName` AS STRING),
             |       ' interprets outside the 1973-2096 validity window of the',
             |       ' unit-magnitude heuristic - units are ambiguous; fix the',
             |       ' writer or normalize explicitly')) END""".stripMargin)))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }

  /** Session-lifetime memo of resolved relations per (session, dir,
    * name): `spark.read.parquet` re-runs schema inference + relation
    * resolution on every call, which at the suite's 0.15–0.3 s per-query
    * scheduling floor is pure overhead (105 queries × several tables
    * each). One shared relation per table also gives every query the
    * SAME plan object, so Spark's plan-identity caching (and the
    * operator memos keyed on canonicalized plans) hit more often. Same
    * staleness contract as any cache: valid while the files under `dir`
    * are immutable — which the driver's test dirs are. */
  private val relationMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]

  /** Evict memoized relations under `dir` (all of them when `name` is
    * None) — the escape hatch for write-then-reload flows (round-trip
    * tests, refreshed snapshots): the memo captures file listing + schema
    * at first load, so a directory REWRITTEN within a session must
    * invalidate or later loads see stale data / missing-file errors. */
  def invalidate(dir: String, name: Option[String] = None): Unit =
    relationMemo.keys
      .filter(k => k._2 == dir && name.forall(_ == k._3))
      .foreach(relationMemo.remove)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = relationMemo.getOrElseUpdate((spark, dir, name), {
      if (name == "events") {
        // Legacy conf lets NANOS parquet read as Long instead of failing;
        // harmless when the file is already MICROS.
        if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").isEmpty)
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        normalizeTs(spark.read.parquet(s"$dir/$name.parquet"), "ts")
      } else spark.read.parquet(s"$dir/$name.parquet")
    })
    df.createOrReplaceTempView(name)
    df
  }

  def loadAll(spark: SparkSession, dir: String): Map[String, DataFrame] =
    names.map(n => n -> load(spark, dir, n)).toMap

  /** Scale-adaptive input-parallelism guard for expensive per-row
    * derivations (guide §2.5, "input skew: one huge unsplittable file …
    * repartition immediately after the read"): when `d`'s physical scan
    * parallelism is below HALF the session's shuffle parallelism — the
    * tiny-single-file / single-row-group regime (a parquet file with
    * one row group yields ONE scan task no matter the split config, so
    * every map-side md5/shingle/HOF above it runs on one core) —
    * hash-repartition by `key` to the shuffle parallelism so the
    * derivation uses the whole cluster. At production scale a corpus
    * scan has orders of magnitude more splits than cores and this is
    * the IDENTITY — no exchange is added (the condition is evaluated
    * from the actual plan, not hard-coded to any core count).
    *
    * The repartition keys on a DETERMINISTIC column hash (never
    * round-robin): retried map tasks reproduce the same row→partition
    * assignment without the sort-before-repartition tax, and the
    * results are row-identical either way (everything above is
    * aggregate/join work, partitioning never reaches output values).
    * Callers apply this UNDER their persisted nodes, so the
    * decision is part of the shared canonical plan and cache identity
    * is preserved across the family. */
  private[queries] def parallelized(d: DataFrame, key: String): DataFrame = {
    val target = d.sparkSession.sessionState.conf.numShufflePartitions
    val parts = scanParallelismOf(d)
    if (parts * 2 < target) d.repartition(target, col(key)) else d
  }

  /** The frame's physical scan parallelism WITHOUT forcing physical
    * planning (r19 used `d.rdd.getNumPartitions`, which plans the frame
    * twice — once for the probe, once for the real query; on a 100 TB
    * catalogued table that second planning pass is pure driver tax).
    * The frames [[parallelized]] guards are narrow projections of one
    * leaf, so the scan's split count IS the frame's parallelism:
    *   - file-sourced leaf → replicate Spark's own split computation
    *     (`FilePartition.maxSplitBytes` + the greedy pack) from the
    *     already-listed FileIndex sizes — no job, no physical plan;
    *   - cached leaf → the cached plan's output partitioning;
    *   - anything else (in-memory batches, multi-leaf frames) → the old
    *     RDD probe, whose cost was only ever material on file scans.
    * Behavior is pinned both ways by TablesParallelizedSpec. */
  private def scanParallelismOf(d: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    // the fast path applies only under PARTITIONING-PRESERVING operators
    // (a Repartition/Join/Aggregate between leaf and frame changes the
    // frame's parallelism away from the scan's — those fall back)
    @annotation.tailrec
    def leafUnderNarrowOps(p: LogicalPlan): Option[LeafNode] = p match {
      case Project(_, c) => leafUnderNarrowOps(c)
      case Filter(_, c) => leafUnderNarrowOps(c)
      case SubqueryAlias(_, c) => leafUnderNarrowOps(c)
      case l: LeafNode => Some(l)
      case _ => None
    }
    leafUnderNarrowOps(d.queryExecution.analyzed) match {
      case Some(lr: LogicalRelation) if lr.relation.isInstanceOf[HadoopFsRelation] =>
        fileScanParallelism(d, lr.relation.asInstanceOf[HadoopFsRelation])
      case Some(im: InMemoryRelation) =>
        im.cachedPlan.outputPartitioning.numPartitions
      case _ => d.rdd.getNumPartitions
    }
  }

  /** Spark's file-split arithmetic (maxSplitBytes + greedy packing of
    * size-desc pieces, openCost charged per piece) over the relation's
    * FileIndex — the same numbers `FilePartition.getFilePartitions`
    * produces, computed from driver-cached listing metadata only. */
  private def fileScanParallelism(d: DataFrame,
      fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation): Int = {
    val s = d.sparkSession
    val conf = s.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val minPartNum = conf.filesMinPartitionNum
      .getOrElse(s.sparkContext.defaultParallelism)
    val sizes = fs.location.listFiles(Nil, Nil)
      .flatMap(_.files.map(_.getLen)).filter(_ > 0)
    val totalBytes = sizes.map(_ + openCost).sum
    val bytesPerCore = totalBytes / math.max(1, minPartNum)
    val maxSplit = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore))
    val pieces = sizes.flatMap { len =>
      (0L until len by maxSplit).map(off => math.min(maxSplit, len - off))
    }.sortBy(-_)
    var n = 0
    var cur = 0L
    pieces.foreach { p =>
      if (cur > 0 && cur + p > maxSplit) { n += 1; cur = 0L }
      cur += p + openCost
    }
    if (cur > 0) n += 1
    n
  }
}
