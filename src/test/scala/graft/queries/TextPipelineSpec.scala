package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q53–q56 corpus-preparation operators: semantic invariants the DuckDB
  * hash-match can't see (coverage, bin feasibility, probability bounds)
  * plus the generic TextOps wrappers' bit-exact equivalence. Plan shapes
  * live in [[PlanShapeSpec]]. */
class TextPipelineSpec extends SparkSpec {

  private lazy val docs = spark.read
    .parquet(s"$sfDir/documents.parquet")

  test("q53 chunks cover every token exactly: windows tile with stride overlap") {
    val ch = TextPipeline.q53DocChunks(spark, sfDir).cache()
    val perDoc = ch.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      max(col("start_token") + col("n_chunk_tokens") - 1).as("last_covered"),
      max("chunk_idx").as("max_idx"))
    val withN = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .join(perDoc, "doc_id")
    // the last chunk's end reaches exactly the doc's token count, and
    // chunk_idx is dense 0..n_chunks-1
    assert(withN.filter(col("last_covered") =!= col("n")).count() === 0)
    assert(withN.filter(col("max_idx") =!= col("n_chunks") - 1).count() === 0)
    // every chunk's length is exactly min(chunkLen, n - start + 1):
    // interior windows are full; only windows overhanging the end run
    // short (window > stride, so up to TWO tail chunks may be short)
    val lenOk = ch.join(withN.select(col("doc_id"), col("n")), "doc_id")
      .filter(col("n_chunk_tokens") =!=
        least(lit(TextPipeline.ChunkLen.toLong), col("n") - col("start_token") + 1))
    assert(lenOk.count() === 0, "a chunk's length broke the slice identity")
    ch.unpersist()
  }

  test("q54 ranks are dense 1..k per doc and ordering is score-desc") {
    val t = TextPipeline.q54TfidfTopK(spark, sfDir).cache()
    val perDoc = t.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"))
    assert(perDoc.filter(col("mx") =!= col("n") || col("mn") =!= 1).count() === 0)
    assert(perDoc.filter(col("n") > 5).count() === 0)
    // within a doc, score never increases with rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("rank")
    assert(t.withColumn("prev", lag(col("score"), 1).over(w))
      .filter(col("prev") < col("score")).count() === 0)
    t.unpersist()
  }

  test("q55 packing: offsets stay under budget and bins fill contiguously") {
    val p = TextPipeline.q55SeqPacking(spark, sfDir).cache()
    assert(p.filter(col("bin_offset") >= TextPipeline.PackBudget ||
      col("bin_offset") < 0).count() === 0)
    // bins are dense per source: every bin id 0..max exists
    val bins = p.groupBy("source").agg(
      countDistinct(col("bin_id")).as("n_bins"), max("bin_id").as("mx"))
    assert(bins.filter(col("mx") =!= col("n_bins") - 1).count() === 0)
    // every bin except the stratum's last holds >= budget tokens once its
    // boundary-straddling doc is counted (contiguous fill never underfills):
    // sum of n_tokens in bins 0..k-1 >= k * budget
    val cum = p.groupBy("source", "bin_id")
      .agg(sum("n_tokens").as("bin_tokens"))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bin_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    assert(cum.withColumn("through", sum("bin_tokens").over(ws))
      .filter(col("through") < (col("bin_id") + 1) * TextPipeline.PackBudget)
      .join(bins.select(col("source"), col("mx")), "source")
      .filter(col("bin_id") =!= col("mx"))
      .count() === 0)
    p.unpersist()
  }

  test("q56 probabilities are bounded and bigram counts match token counts") {
    val f = TextPipeline.q56BigramLm(spark, sfDir).cache()
    assert(f.filter(col("mean_p_fp") < 0 || col("mean_p_fp") > 1000000L).count() === 0)
    val withN = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .join(f, "doc_id")
    assert(withN.filter(col("n_bigrams") =!= greatest(col("n") - 1, lit(0L)))
      .count() === 0)
    // a document's mean probability can't exceed its max single-step prob,
    // which is capped at 1e6 == P(b|a)=1; repeated-phrase docs sit high
    assert(f.filter(col("n_bigrams") > 0 && col("sum_p_fp") === 0).count() === 0)
    f.unpersist()
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q92 span scrub: canonical survives, copies excise, all-cut doc empties") {
    val sp0 = spark
    import sp0.implicits._
    val s = (1 to 20).map(i => s"s$i").mkString(" ")
    val d1 = s"a1 a2 a3 $s b1 b2"   // canonical copy (lowest doc_id, 25 toks)
    val d2 = s"c1 c2 $s d1 d2 d3"   // one non-canonical copy (25 toks)
    val d3 = s"$s $s"               // two copies, nothing else → fully cut
    val d4 = "plain text with no duplicated span at all" // < spanLen tokens
    val df = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4)).toDF("doc_id", "text")
    val r = TextOps.spanScrub(df, "doc_id", "text").cache()
    assert(r.filter(col("n_kept_tokens") + col("n_cut_tokens") =!=
      col("n_tokens")).count() === 0, "kept + cut != total")
    val byId = r.collect().map(x => x.getLong(0) -> x).toMap
    assert(byId(1L).getLong(3) === 0L && byId(1L).getString(4) === md5hex(d1),
      "canonical doc was touched")
    assert(byId(2L).getLong(3) === 20L &&
      byId(2L).getString(4) === md5hex("c1 c2 d1 d2 d3"),
      "copy doc did not lose exactly the span")
    assert(byId(3L).getLong(3) === 40L && byId(3L).getString(4) === md5hex(""),
      "fully-duplicated doc should scrub to empty")
    assert(byId(4L).getLong(3) === 0L && byId(4L).getString(4) === md5hex(d4),
      "short doc was touched")
    r.unpersist()
  }

  test("q92 cut mass equals the union of q58 non-canonical positions; untouched docs keep their hash") {
    val scrub = TextPipeline.q92SpanScrub(spark, sfDir).cache()
    val expect = TextPipeline.q58SpanDedup(spark, sfDir)
      .filter(col("is_canonical") === 0L)
      .select(col("doc_id"), explode(sequence(col("span_start"),
        col("span_start") + (TextPipeline.SpanLen - 1))).as("pos"))
      .distinct().groupBy("doc_id").agg(count(lit(1)).as("expect_cut"))
    assert(scrub.join(expect, Seq("doc_id"), "left")
      .filter(coalesce(col("expect_cut"), lit(0L)) =!= col("n_cut_tokens"))
      .count() === 0, "cut mass disagrees with the q58 report")
    // genuinely exercised at this SF, and scrubbed text really changed
    assert(scrub.filter(col("n_cut_tokens") > 0).count() > 0)
    val orig = docs.select(col("doc_id"), md5(col("text")).as("h"))
    assert(scrub.join(orig, "doc_id")
      .filter((col("n_cut_tokens") === 0 && col("clean_hash") =!= col("h")) ||
        (col("n_cut_tokens") > 0 && col("clean_hash") === col("h")))
      .count() === 0, "rebuild hash inconsistent with cut count")
    scrub.unpersist()
  }

  test("q92 generic wrapper matches the oracle binding on renamed columns") {
    sameRows(TextOps.spanScrub(renamed, "my_id", "body"),
      TextPipeline.q92SpanScrub(spark, sfDir))
  }

  private def renamed: DataFrame = docs
    .withColumnRenamed("doc_id", "my_id")
    .withColumnRenamed("text", "body")

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema.fieldNames.sameElements(b.schema.fieldNames))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("bigram model round-trips through parquet and scores bit-identically") {
    val norm = docs.select(col("doc_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm").toString
    TextPipeline.fitBigramModel(norm).write.mode("overwrite").parquet(tmp)
    val reloaded = spark.read.parquet(tmp)
    sameRows(TextPipeline.scoreUnderModel(norm, reloaded),
      TextPipeline.q56BigramLm(spark, sfDir))
  }

  test("vocab keep-list round-trips through parquet and applies bit-identically") {
    val norm = docs.select(col("doc_id"), col("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-vocab").toString
    TextPipeline.vocabKeepOf(norm, TextPipeline.VocabKeepK)
      .write.mode("overwrite").parquet(tmp)
    val reloaded = spark.read.parquet(tmp)
    sameRows(
      TextPipeline.vocabRewriteOf(norm, reloaded)
        .select(col("doc_id"), col("n_tokens"), col("n_unk"),
          md5(col("text")).as("pruned_hash")),
      TextPipeline.q62VocabPrune(spark, sfDir))
  }

  test("applyVocabulary on a held-out batch emits only keep-tokens and <UNK>") {
    val train = docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("text"))
    val heldOut = docs.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    val keep = TextPipeline.vocabKeepOf(train, 10)
    val keepSet = keep.collect().map(_.getString(0)).toSet
    assert(keepSet.size == 10)
    val out = TextPipeline.vocabRewriteOf(heldOut, keep).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val toks = r.getAs[String]("text").split(" ")
      assert(toks.forall(t => t == "<UNK>" || keepSet(t)), s"row $r")
      assert(r.getAs[Long]("n_tokens") == toks.length)
      assert(r.getAs[Long]("n_unk") == toks.count(_ == "<UNK>"))
    }
  }

  test("held-out scoring floors unseen transitions at 0 and keeps them counted") {
    val train = docs.filter(col("source") =!= "src0")
    val heldOut = docs.filter(col("source") === "src0")
      .select(col("doc_id"), col("text"))
    val model = TextPipeline.fitBigramModel(
      train.select(col("doc_id"), col("text")))
    val scored = TextPipeline.scoreUnderModel(heldOut, model).cache()
    // every held-out doc is scored, with its full bigram count (OOV
    // transitions count toward the denominator)
    assert(scored.count() === heldOut.count())
    val withN = heldOut.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .join(scored, "doc_id")
    assert(withN.filter(col("n_bigrams") =!= greatest(col("n") - 1, lit(0L)))
      .count() === 0)
    assert(scored.filter(col("mean_p_fp") < 0 || col("mean_p_fp") > 1000000L)
      .count() === 0)
    scored.unpersist()
  }

  test("q57 redaction scrubs every counted match and leaves clean text alone") {
    val spark0 = spark
    import spark0.implicits._
    val synthetic = Seq(
      (1L, "reach me at jane.doe+spam@corp.example.org today"),
      (2L, "server 192.168.1.77 and card 4111-1111-1111-1234"),
      (3L, "ssn 078-05-1120 repeated ssn 078-05-1120"),
      (4L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextOps.redactPii(synthetic, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_emails") == 1)
    assert(out(2L).getAs[Long]("n_ipv4s") == 1 && out(2L).getAs[Long]("n_cards") == 1)
    assert(out(3L).getAs[Long]("n_ssns") == 2)
    assert(Seq("n_emails", "n_ipv4s", "n_cards", "n_ssns")
      .forall(c => out(4L).getAs[Long](c) == 0))
    // doc 4 is untouched: its hash equals md5 of the original text
    val cleanHash = synthetic.filter(col("doc_id") === 4)
      .select(md5(col("text"))).head().getString(0)
    assert(out(4L).getAs[String]("redacted_hash") == cleanHash)
    // redacted text carries no residual matches: re-redacting is a no-op
    val once = TextPipeline.piiRedactOf(
      synthetic.select(col("doc_id"), col("text")))
    val twice = TextPipeline.piiRedactOf(
      synthetic.select(col("doc_id"),
        TextPipeline.redactedTextCol(col("text")).as("text")))
    assert(twice.agg(sum(col("n_emails") + col("n_cards") + col("n_ssns") +
      col("n_ipv4s"))).head().getLong(0) == 0)
    assert(once.select("doc_id", "redacted_hash").exceptAll(
      twice.select("doc_id", "redacted_hash")).isEmpty)
  }

  test("q58 span dedup finds exactly one canonical copy per duplicated span") {
    val sp = TextPipeline.q58SpanDedup(spark, sfDir).cache()
    assert(sp.count() > 0, "corpus has exact dups; span output must be non-empty")
    // every span group: n_occurrences rows, exactly one canonical
    val groups = sp.groupBy("span_hash").agg(
      count(lit(1)).as("n_rows"),
      sum("is_canonical").as("n_canon"),
      max("n_occurrences").as("n_occ"),
      min("n_occurrences").as("n_occ_min"))
    assert(groups.filter(col("n_rows") =!= col("n_occ") ||
      col("n_occ") =!= col("n_occ_min") || col("n_canon") =!= 1).count() === 0)
    assert(sp.filter(col("n_occurrences") < 2).count() === 0)
    // the canonical copy is the (doc_id, pos)-least occurrence
    val w = org.apache.spark.sql.expressions.Window.partitionBy("span_hash")
      .orderBy("doc_id", "span_start")
    assert(sp.withColumn("rn", row_number().over(w))
      .filter((col("rn") === 1) =!= (col("is_canonical") === 1L))
      .count() === 0)
    // occurrences are distinct (doc, position) sites — no double counting
    assert(sp.select("doc_id", "span_start", "span_hash").distinct().count()
      === sp.count())
    sp.unpersist()
  }

  test("q59 verdicts: keep iff zero blocked urls, audit domain only when blocked") {
    val v = TextPipeline.q59UrlFilter(spark, sfDir).cache()
    assert(v.count() === docs.count())
    assert(v.filter((col("keep") === 1L) =!= (col("n_blocked") === 0L)).count() === 0)
    assert(v.filter(col("blocked_domain").isNotNull =!= (col("n_blocked") > 0L))
      .count() === 0)
    // the seeded corpus: id%5==0 docs carry only the clean link
    assert(v.filter(col("doc_id") % 5 === 0 && col("keep") =!= 1L).count() === 0)
    assert(v.filter(col("doc_id") % 5 =!= 0 && col("keep") =!= 0L).count() === 0)
    v.unpersist()
  }

  test("chunking and quality filtering run unchanged on a streaming source") {
    // the unordered forms are stateless projections, so the SAME library
    // call serves batch and Structured Streaming (orderBy would throw on
    // a stream — which is why the cores don't sort)
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = docs.select(col("doc_id"), col("text")).limit(50)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    input.addData(rows.take(20)); input.addData(rows.drop(20))
    val stream = input.toDF().toDF("doc_id", "text")
    val chunked = TextOps.chunkDocuments(stream, "doc_id", "text", ordered = false)
    val filtered = TextOps.qualityFilter(stream, "doc_id", "text", ordered = false)
    val scrubbed = TextOps.intraDocDedup(stream, "doc_id", "text", ordered = false)
    assert(chunked.isStreaming && filtered.isStreaming && scrubbed.isStreaming)
    val ckpt0 = java.nio.file.Files.createTempDirectory("ckpt-scrub").toString
    val q0 = scrubbed.writeStream.outputMode("append").format("memory")
      .queryName("scrub_out").option("checkpointLocation", ckpt0).start()
    q0.processAllAvailable(); q0.stop()
    val ckpt1 = java.nio.file.Files.createTempDirectory("ckpt-chunk").toString
    val q1 = chunked.writeStream.outputMode("append").format("memory")
      .queryName("chunk_out").option("checkpointLocation", ckpt1).start()
    q1.processAllAvailable(); q1.stop()
    val batchDf = spark.createDataFrame(rows).toDF("doc_id", "text")
    sameRows(
      spark.table("chunk_out").orderBy("doc_id", "chunk_idx"),
      TextOps.chunkDocuments(batchDf, "doc_id", "text"))
    sameRows(
      spark.table("scrub_out").orderBy("doc_id"),
      TextOps.intraDocDedup(batchDf, "doc_id", "text"))
  }

  test("q84 intra-doc dedup drops exactly the repeated blocks and rebuilds verbatim") {
    val sp0 = spark
    import sp0.implicits._
    // "a b c d a b" in 2-token blocks -> [a b][c d][a b]: one dup dropped,
    // rebuilt text is "a b c d"
    val t = Seq((1L, "a b c d a b"), (2L, "x y z w q r")).toDF("doc_id", "text")
    val out = TextPipeline.intraDocDedupOf(t, 2).orderBy("doc_id").collect()
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getAs[Long]("n_chunks") == 3 &&
      out(0).getAs[Long]("n_dup_chunks") == 1 &&
      out(0).getAs[Long]("n_clean_tokens") == 4 &&
      out(0).getAs[String]("clean_hash") == md5Hex("a b c d"))
    // no-dup doc passes through verbatim
    assert(out(1).getAs[Long]("n_dup_chunks") == 0 &&
      out(1).getAs[String]("clean_hash") == md5Hex("x y z w q r"))

    // corpus binding: no-dup docs rebuild to md5(text); dup docs shrink
    val j = TextPipeline.q84IntraDocDedup(spark, sfDir)
      .join(Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), md5(col("text")).as("orig_hash"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
        "doc_id")
      .collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      if (r.getAs[Long]("n_dup_chunks") == 0L) {
        assert(r.getAs[String]("clean_hash") == r.getAs[String]("orig_hash"))
        assert(r.getAs[Long]("n_clean_tokens") == r.getAs[Long]("n_tokens"))
      } else {
        assert(r.getAs[Long]("n_clean_tokens") < r.getAs[Long]("n_tokens"))
      }
    }
    // the synthetic vocabulary genuinely exercises the removal path
    assert(j.exists(_.getAs[Long]("n_dup_chunks") > 0L))
  }

  test("q88 layout: offsets contiguous from 0, block math exact, bucket-span invariant") {
    val rows = TextPipeline.q88StreamLayout(spark, sfDir).collect()
    assert(rows.head.getAs[Long]("start_off") == 0L)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("start_off") ==
          a.getAs[Long]("start_off") + a.getAs[Long]("n_tokens") + 1L,
          s"stream gap after doc ${a.getAs[Long]("doc_id")}")
      case _ => ()
    }
    val L = TextPipeline.StreamCtxLen
    rows.foreach { r =>
      val s0 = r.getAs[Long]("start_off"); val n = r.getAs[Long]("n_tokens")
      val fb = s0 / L; val lb = (s0 + n - 1) / L
      assert(r.getAs[Long]("first_block") == fb)
      assert(r.getAs[Long]("n_blocks") == lb - fb + 1)
      assert(r.getAs[Long]("crosses_boundary") == (if (lb > fb) 1L else 0L))
    }
    // the corpus genuinely exercises boundary crossings
    assert(rows.exists(_.getAs[Long]("crosses_boundary") == 1L))
    // the bucket span shapes the PLAN, never the answer
    val base = rows.map(_.toString).toSeq
    for (span <- Seq(7L, 1000000L))
      assert(TextPipeline.streamLayoutOf(docs, L, span)
        .orderBy("doc_id").collect().map(_.toString).toSeq == base,
        s"layout changed under bucketSpan=$span")
  }

  test("q94 shard plan: token-balanced, doc_id-contiguous, every doc exactly once") {
    val S = TextPipeline.ShardTokens
    val rows = TextPipeline.q94ShardPlan(spark, sfDir).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
    assert(rows.forall(r => r.getAs[Long]("shard_id") ==
      r.getAs[Long]("start_off") / S))
    val byShard = rows.groupBy(_.getAs[Long]("shard_id"))
    assert(byShard.size > 1, "corpus should span multiple shards at this S")
    val maxDoc = rows.map(_.getAs[Long]("n_tokens")).max
    byShard.foreach { case (sid, rs) =>
      // balance: a shard holds < S of start-offsets, so its token mass is
      // bounded by S + the one doc straddling its upper boundary
      val mass = rs.map(r => r.getAs[Long]("n_tokens") + 1L).sum
      assert(mass <= S + maxDoc + 1L, s"shard $sid carries $mass tokens")
      // contiguity in doc_id: shards are ranges, never interleaved
      val ids = rs.map(_.getAs[Long]("doc_id")).sorted
      val others = rows.filter(_.getAs[Long]("shard_id") != sid)
        .map(_.getAs[Long]("doc_id"))
      assert(!others.exists(o => o > ids.head && o < ids.last),
        s"shard $sid interleaves with another shard")
      // shard_pos is the dense within-shard rank
      assert(rs.sortBy(_.getAs[Long]("doc_id"))
        .map(_.getAs[Long]("shard_pos")).toSeq == rs.indices.map(_.toLong))
    }
  }

  test("writeShards materializes one directory per shard with rows intact") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val n = TextOps.writeShards(
      docs.select(col("doc_id").as("id"), col("text").as("body"), col("source")),
      "id", "body", tmp, tokensPerShard = TextPipeline.ShardTokens)
    val back = spark.read.parquet(tmp)
    assert(back.count() == docs.count(), "docs lost or duplicated in shards")
    assert(back.select("shard_id").distinct().count() == n)
    // caller columns ride along; partition dirs carry the shard id
    assert(back.columns.toSet.contains("source"))
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard_id=")).sorted
    assert(dirs.length == n.toInt)
    // plan equivalence: the written assignment matches q94's
    val planned = TextPipeline.q94ShardPlan(spark, sfDir)
      .select(col("doc_id"), col("shard_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // partition-column inference reads shard_id back as Integer
    back.select(col("id"), col("shard_id").cast("long")).collect()
      .foreach(r => assert(planned(r.getLong(0)) == r.getLong(1)))
    // RE-sharding previously written output (frame already carries
    // shard_id/shard_pos) replaces the columns instead of throwing
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-reshard").toString
    val n2 = TextOps.writeShards(back, "id", "body", tmp2,
      tokensPerShard = TextPipeline.ShardTokens * 2)
    assert(n2 > 0 && n2 < n)
    assert(spark.read.parquet(tmp2).count() == docs.count())
    // empty input: zero shards, no crash
    assert(TextOps.writeShards(docs.filter(lit(false))
      .select(col("doc_id").as("id"), col("text").as("body")),
      "id", "body",
      java.nio.file.Files.createTempDirectory("graft-empty").toString,
      tokensPerShard = 1000L) == 0L)
  }

  test("writeShards: shard ids gap when a doc spans windows; count is written dirs") {
    val s = spark
    import s.implicits._
    // doc0 carries 50 tokens (> S=20, spans windows 0..2); doc1 starts at
    // offset 51 -> shard 2. Shard 1 is never written; the returned count
    // must be the number of DIRECTORIES (2), not max_id+1 (3).
    val df = Seq((0L, Seq.fill(50)("w").mkString(" ")), (1L, "a b c"))
      .toDF("id", "body")
    val tmp = java.nio.file.Files.createTempDirectory("graft-gap").toString
    val n = TextOps.writeShards(df, "id", "body", tmp, tokensPerShard = 20L)
    assert(n == 2L)
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard_id=")).sorted
    assert(dirs.toSeq == Seq("shard_id=0", "shard_id=2"))
  }

  test("q88 append: laying out a batch at the persisted tail equals the full recompute") {
    val L = TextPipeline.StreamCtxLen
    val span = TextPipeline.StreamBucketSpan
    val full = TextPipeline.streamLayoutOf(docs, L, span)
      .filter(col("doc_id") >= 250).orderBy("doc_id").collect()
    val tail = TextPipeline.layoutTail(
      TextPipeline.streamLayoutOf(docs.filter(col("doc_id") < 250), L, span))
    val appended = TextPipeline.streamLayoutOf(
      docs.filter(col("doc_id") >= 250), L, span, tail)
      .orderBy("doc_id").collect()
    assert(appended.map(_.toString).toSeq == full.map(_.toString).toSeq,
      "append layout diverged from the full recompute")
    assert(TextPipeline.layoutTail(TextPipeline.streamLayoutOf(
      docs.filter(lit(false)), L, span)) == 0L)
  }

  test("layout/manifest invariants hold on adversarial corpora (sparse ids, empty docs)") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val n = 30 + rnd.nextInt(40)
      var id = rnd.nextInt(5).toLong
      val rows = (1 to n).map { _ =>
        id += 1 + rnd.nextInt(200) // sparse ids, jumping bucket boundaries
        val toks = rnd.nextInt(40) // 0 ⇒ empty text (one empty token)
        (id, Seq.fill(toks)("w" + rnd.nextInt(9)).mkString(" "))
      }
      val df = rows.toDF("doc_id", "text")
      val L = 16L
      val base = TextPipeline.streamLayoutOf(df, L, 64L)
        .orderBy("doc_id").collect()
      for (span <- Seq(3L, 64L, 100000L)) {
        val lay = TextPipeline.streamLayoutOf(df, L, span)
          .orderBy("doc_id").collect()
        assert(lay.map(_.toString).toSeq == base.map(_.toString).toSeq,
          s"span $span changed the layout")
        var pos = 0L
        lay.foreach { r =>
          assert(r.getAs[Long]("start_off") == pos,
            s"gap at doc ${r.getAs[Long]("doc_id")} under span $span")
          pos += r.getAs[Long]("n_tokens") + 1L
        }
        val man = TextPipeline.blockManifestOf(df, L, span)
          .orderBy("block_id").collect()
        assert(man.map(_.getAs[Long]("util_tokens")).sum ==
          lay.map(_.getAs[Long]("n_tokens")).sum, "body slots not conserved")
        assert(man.head.getAs[Long]("block_id") == 0L)
        man.map(_.getAs[Long]("block_id")).sliding(2).foreach {
          case Array(a, b) => assert(b == a + 1, s"block gap $a→$b")
          case _ => ()
        }
      }
    }
  }

  test("q90 manifest: blocks dense, utilization bounded, totals reconcile with q88") {
    val man = TextPipeline.q90BlockManifest(spark, sfDir).collect()
    val L = TextPipeline.StreamCtxLen
    // the stream is contiguous, so block ids are dense 0..max (a
    // separator-only block would need L consecutive empty docs)
    assert(man.head.getAs[Long]("block_id") == 0L)
    man.map(_.getAs[Long]("block_id")).sliding(2).foreach {
      case Array(a, b) => assert(b == a + 1, s"block gap between $a and $b")
      case _ => ()
    }
    man.foreach { r =>
      val u = r.getAs[Long]("util_tokens")
      assert(u >= 1L && u <= L, s"utilization $u out of [1,$L]")
      assert((r.getAs[Long]("pure") == 1L) == (r.getAs[Long]("n_docs") == 1L))
      assert(r.getAs[Long]("min_doc") <= r.getAs[Long]("max_doc"))
    }
    // body-token slots conserve, and the block count is exactly the
    // layout's last covered block + 1
    val lay = TextPipeline.q88StreamLayout(spark, sfDir).collect()
    assert(man.map(_.getAs[Long]("util_tokens")).sum ==
      lay.map(_.getAs[Long]("n_tokens")).sum)
    assert(man.length.toLong ==
      lay.map(r => r.getAs[Long]("first_block") + r.getAs[Long]("n_blocks")).max)
    // the corpus genuinely exercises cross-doc blocks
    assert(man.exists(_.getAs[Long]("n_docs") > 1L))
  }

  test("TextOps wrappers are bit-exact twins of the oracle-checked queries") {
    sameRows(TextOps.chunkDocuments(renamed, "my_id", "body"),
      TextPipeline.q53DocChunks(spark, sfDir))
    sameRows(TextOps.distinctiveTerms(renamed, "my_id", "body"),
      TextPipeline.q54TfidfTopK(spark, sfDir))
    sameRows(TextOps.packSequences(renamed, "my_id", "body", "source"),
      TextPipeline.q55SeqPacking(spark, sfDir))
    sameRows(TextOps.lmFluency(renamed, "my_id", "body"),
      TextPipeline.q56BigramLm(spark, sfDir))
    sameRows(TextOps.streamLayout(renamed, "my_id", "body"),
      TextPipeline.q88StreamLayout(spark, sfDir))
    sameRows(TextOps.blockManifest(renamed, "my_id", "body"),
      TextPipeline.q90BlockManifest(spark, sfDir))
  }
}
