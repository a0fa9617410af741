package graft.queries

import graft.SparkSpec
import graft.operators.Bucketing
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

/** The PRODUCTION ingest composition on the object-store substrate (r17
  * verdict item 1): the streaming appendAdmitted loops were spec'd on
  * local FS only, while `ObjectStoreCommitSpec` covered the index-level
  * lifecycle — the loops call the same unit appends, so transparency
  * was LIKELY, but "likely" is exactly what the
  * two-process rename spec said before it found the O_EXCL hole. These
  * tests run the actual serving loops — `runIncrementalDedupIndexed`,
  * `runVectorIngestIndexed`, `runJointIngestIndexed`, all with
  * `appendAdmitted = true` — cross-epoch under
  * the manifest commit protocol on `mos://`
  * ([[graft.sources.MockObjectStoreFileSystem]]: no directory rename as
  * publish, conditional-put create), with a crash-mid-epoch +
  * `reclaimGarbage` arm and an at-least-once replay arm on the joint
  * loop. Same two-run/one-checkpoint epoch shape as `IngestPrepSpec`. */
class ObjectStoreStreamingSpec extends SparkSpec {

  private def withMos[A](body: => A): A = {
    spark.sparkContext.hadoopConfiguration.set("fs.mos.impl",
      classOf[graft.sources.MockObjectStoreFileSystem].getName)
    body
  }

  private def mosTmp(tag: String): String =
    "mos://" + java.nio.file.Files.createTempDirectory(tag).toString

  test("text appendAdmitted loop runs cross-epoch on mos:// manifest staging") {
    withMos {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val prefix = "moss_txt1"
      DedupIndex.build(docs.filter(col("doc_id") >= 100), "doc_id", "text",
        mosTmp("moss_txt1"), prefix = prefix)

      val x = docs.filter(col("doc_id") === 50)
        .select(lit(700001L).as("doc_id"), col("text"))
      val y = docs.filter(col("doc_id") === 50)
        .select(lit(700002L).as("doc_id"), col("text"))
      val inDir = java.nio.file.Files.createTempDirectory("moss-tin").toString
      val ckpt = java.nio.file.Files.createTempDirectory("moss-tck").toString
      def stream = spark.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))).parquet(inDir)
      val verdicts =
        scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
      def runEpoch(n: Int): Unit =
        EventStream.runIncrementalDedupIndexed(stream, prefix, "doc_id",
          "text", ckpt, appendAdmitted = true) { (vs, _) =>
          verdicts ++= vs.collect().map(r =>
            (n, r.getAs[Long]("doc_id"), r.getAs[String]("verdict")))
        }
      x.coalesce(1).write.mode("append").parquet(inDir)
      runEpoch(1)
      y.coalesce(1).write.mode("append").parquet(inDir)
      runEpoch(2)
      assert(verdicts.toSet == Set((1, 700001L, "new"),
        (2, 700002L, "exact_dup")),
        s"cross-epoch text dedup on mos:// failed: ${verdicts.toSeq}")
      // the epoch-1 append is COMPLETE on the no-rename store (all three
      // tables), and its manifests inventory exactly what landed
      assert(spark.table(s"${prefix}_bands")
        .filter(col("doc_id") === 700001L).count() > 0,
        "appended doc missing from the band index on mos://")
      val d = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier(s"${prefix}_hashes"))
        .location).getParent.toString
      assert(Bucketing.verifyWaveManifests(spark, d).isEmpty,
        "streaming appends left an inconsistent manifest")
      assert(Bucketing.leasedWaves(spark, d).isEmpty)
    }
  }

  test("vector appendAdmitted loop runs cross-epoch on mos:// manifest staging") {
    withMos {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val prefix = "moss_vec1"
      VectorIndex.build(emb.filter(col("vec_id") >= 100), "vec_id",
        "embedding", mosTmp("moss_vec1"), minCos = 0.999, prefix = prefix)

      val x = emb.filter(col("vec_id") === 50)
        .select(lit(700001L).as("vec_id"), col("embedding"))
      val y = emb.filter(col("vec_id") === 50)
        .select(lit(700002L).as("vec_id"), col("embedding"))
      val inDir = java.nio.file.Files.createTempDirectory("moss-vin").toString
      val ckpt = java.nio.file.Files.createTempDirectory("moss-vck").toString
      def stream = spark.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType))))).parquet(inDir)
      val admitted = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      def runEpoch(n: Int): Unit =
        EventStream.runVectorIngestIndexed(stream, "vec_id", "embedding",
          ckpt, prefix, appendAdmitted = true) { (adm, _) =>
          admitted ++= adm.collect().map(r => n -> r.getAs[Long]("vec_id"))
        }
      x.coalesce(1).write.mode("append").parquet(inDir)
      runEpoch(1)
      y.coalesce(1).write.mode("append").parquet(inDir)
      runEpoch(2)
      assert(admitted.toSet == Set(1 -> 700001L),
        s"cross-epoch vector dedup on mos:// failed: ${admitted.toSeq}")
      val d = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier(s"${prefix}_meta"))
        .location).getParent.toString
      assert(Bucketing.verifyWaveManifests(spark, d).isEmpty,
        "streaming appends left an inconsistent manifest")
      assert(Bucketing.leasedWaves(spark, d).isEmpty)
    }
  }

  test("joint ingest on mos://: cross-epoch admission, crash-mid-epoch reclaim, at-least-once replay") {
    withMos {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val joined = docs.join(embs, docs("doc_id") === embs("vec_id"))
        .select(docs("doc_id"), col("text"), col("embedding"))
      val corpus = joined.filter(col("doc_id") >= 100)
      val tPrefix = "moss_jtxt"
      val vPrefix = "moss_jvec"
      val td = mosTmp("moss_jtxt")
      DedupIndex.build(corpus, "doc_id", "text", td, prefix = tPrefix)
      VectorIndex.build(corpus, "doc_id", "embedding", mosTmp("moss_jvec"),
        minCos = 0.999, prefix = vPrefix)

      // dynamic fixture (documents/embeddings carry natural near-dups):
      // excluded ids that probe `new` on BOTH axes
      val excluded = joined.filter(col("doc_id") < 100)
      val textNew = DedupIndex.incrementalDedup(excluded, "doc_id", "text",
        tPrefix).filter(col("verdict") === "new")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val vecNew = VectorIndex.incrementalDedup(excluded, "doc_id",
        "embedding", vPrefix).filter(col("verdict") === "new")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val bothNew = (textNew & vecNew).toSeq.sorted
      assert(bothNew.size >= 3, s"fixture degenerate: bothNew=$bothNew")
      val Seq(na, nb, ncr) = bothNew.take(3)
      def relabeled(srcId: Long, asId: Long) =
        joined.filter(col("doc_id") === srcId)
          .select(lit(asId).as("doc_id"), col("text"), col("embedding"))

      val inDir = java.nio.file.Files.createTempDirectory("moss-jin").toString
      val ckpt = java.nio.file.Files.createTempDirectory("moss-jck").toString
      def stream = spark.readStream
        .schema(relabeled(na, 0L).schema).parquet(inDir)
      val got = scala.collection.mutable.ArrayBuffer
        .empty[(Int, Long, String, String, Boolean)]
      def runEpoch(n: Int): Unit =
        EventStream.runJointIngestIndexed(stream, "doc_id", "text",
          "embedding", ckpt, tPrefix, vPrefix,
          appendAdmitted = true) { (joint, _) =>
          got ++= joint.collect().map(r => (n, r.getAs[Long]("doc_id"),
            r.getAs[String]("text_verdict"), r.getAs[String]("vec_verdict"),
            r.getAs[Boolean]("admitted")))
        }

      // epoch 1: one both-new row — admitted, appended to BOTH indexes
      // via per-file moves + manifest commits (a directory rename would
      // throw on this FS)
      relabeled(na, 700001L).coalesce(1).write.mode("append").parquet(inDir)
      runEpoch(1)
      assert(got.toSet == Set((1, 700001L, "new", "new", true)),
        s"epoch 1: ${got.toSeq}")

      // CRASH MID-EPOCH, emulated at the layer it occurs (a writer dying
      // between per-table publishes): 1 of 3 text tables lands, the wave
      // is never manifested — invisible garbage on the object store,
      // reclaimed precisely in place with committed bytes untouched
      val staged = DedupIndex.appendStaged(relabeled(nb, 800001L),
        "doc_id", "text", tPrefix, maxTables = 1)
      assert(staged >= 2, s"crash fixture staged wave $staged")
      assert(DedupIndex.stats(spark, tPrefix).abandonedWaves == 1)
      spark.conf.set("spark.graft.writerLiveTtlMs", "0") // writer is dead
      val reclaimed =
        try Bucketing.reclaimGarbage(spark, td,
          Seq("hashes", "bands", "shingles"))
        finally spark.conf.unset("spark.graft.writerLiveTtlMs")
      assert(reclaimed.exists(_.contains(s"wave=$staged")),
        s"crash garbage not reclaimed: $reclaimed")
      assert(DedupIndex.stats(spark, tPrefix).abandonedWaves == 0)

      // epoch 2 AFTER the crash + reclaim: a twin of epoch 1's admission
      // is rejected on both axes (cross-epoch, across the crash), a
      // fresh both-new row still admits
      relabeled(na, 700002L).unionAll(relabeled(ncr, 700003L))
        .coalesce(1).write.mode("append").parquet(inDir)
      runEpoch(2)
      val e2 = got.filter(_._1 == 2).map(t => t._2 -> t).toMap
      assert(e2(700002L)._3 == "exact_dup" && e2(700002L)._4 == "near_dup" &&
        !e2(700002L)._5, s"twin not rejected after crash: ${e2(700002L)}")
      assert(e2(700003L) == ((2, 700003L, "new", "new", true)),
        s"fresh row not admitted after crash: ${e2(700003L)}")

      // AT-LEAST-ONCE REPLAY: the same epoch-2 content lands again (a
      // crash between the epoch's appends and its checkpoint commit
      // replays the epoch against the already-grown indexes) — verdicts
      // must be bit-identical (the probe cores anti-join the batch's own
      // ids out of the candidates), and the duplicate index rows the
      // re-append writes are verdict-neutral
      val statsBefore = (DedupIndex.stats(spark, tPrefix).docs,
        VectorIndex.stats(spark, vPrefix).totalRows)
      relabeled(na, 700002L).unionAll(relabeled(ncr, 700003L))
        .coalesce(1).write.mode("append").parquet(inDir)
      runEpoch(3)
      val e3 = got.filter(_._1 == 3).map(t => t._2 -> (t._3, t._4, t._5))
        .toMap
      assert(e3 == got.filter(_._1 == 2)
        .map(t => t._2 -> (t._3, t._4, t._5)).toMap,
        s"replay diverged: $e3 vs epoch 2")
      // distinct-id stats see THROUGH the replay's duplicate rows
      assert((DedupIndex.stats(spark, tPrefix).docs,
        VectorIndex.stats(spark, vPrefix).totalRows) == statsBefore,
        "replay drifted the logical index counts")

      // a later twin of the replayed admission dedups against it ONCE
      // (one verdict row, not one per duplicate index row)
      val v = DedupIndex.incrementalDedup(relabeled(ncr, 700004L),
        "doc_id", "text", tPrefix).collect()
      assert(v.length == 1 && v(0).getAs[String]("verdict") == "exact_dup" &&
        v(0).getAs[Long]("partner_id") == 700003L, s"got ${v.toSeq}")
      assert(Bucketing.verifyWaveManifests(spark, td).isEmpty,
        "the loop left an inconsistent manifest")
    }
  }
}
