package graft.sources

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** The co-located-join contract: two tables written bucketed on the same
  * key with the same bucket count join with ZERO shuffle exchanges — the
  * layout that turns every repeat big-big join into a local merge. */
class BucketingSpec extends SparkSpec {

  /** Shuffle count by FULL traversal: AQE wraps materialized shuffles in
    * ShuffleQueryStageExec LEAF nodes (and reused ones in
    * ReusedExchangeExec leaves), so a plain `collect` over the executed
    * plan sees none of them — descend into stage plans explicitly or the
    * zero-shuffle assertion is vacuously true for every query. */
  private def countShuffles(p: SparkPlan): Int = {
    val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    self + kids.map(countShuffles).sum
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // finalize the adaptive plan
    countShuffles(df.queryExecution.executedPlan)
  }

  test("same-bucketed tables join with zero shuffle exchanges") {
    val docs = graft.queries.Tables.load(spark, sfDir, "documents")
    val stats = docs.select(col("doc_id"), length(col("text")).as("n"))
    try {
      Bucketing.writeBucketed(docs.select("doc_id", "lang", "source"),
        "b_docs", key = "doc_id", buckets = 8)
      Bucketing.writeBucketed(stats, "b_stats", key = "doc_id", buckets = 8)
      // force a non-broadcast join so co-location is what's under test
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.coLocatedJoin(spark, "b_docs", "b_stats",
        "doc_id", "doc_id")
      assert(joined.count() == docs.count())
      assert(shuffles(joined) == 0,
        "bucketed join shuffled; co-location metadata not used")
      // the same join over raw (unbucketed) frames DOES shuffle — the
      // baseline that proves the assertion above is non-vacuous
      val raw = docs.select("doc_id", "lang", "source").join(stats, "doc_id")
      assert(shuffles(raw) > 0, "baseline join unexpectedly shuffle-free")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_docs")
      spark.sql("DROP TABLE IF EXISTS b_stats")
    }
  }

  test("mismatched bucket counts fall back to a correct (shuffled) join") {
    val docs = graft.queries.Tables.load(spark, sfDir, "documents")
    try {
      Bucketing.writeBucketed(docs.select("doc_id", "lang"),
        "b_a", key = "doc_id", buckets = 8)
      Bucketing.writeBucketed(docs.select(col("doc_id"), col("n_chars")),
        "b_b", key = "doc_id", buckets = 4)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.coLocatedJoin(spark, "b_a", "b_b", "doc_id",
        "doc_id")
      // correctness holds regardless of layout
      assert(joined.count() == docs.count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_a")
      spark.sql("DROP TABLE IF EXISTS b_b")
    }
  }
}
