package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.api.ApiResponses.collectRows
import graft.queries.{DedupIndex, VectorIndex}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The serving-index operations of batch_suite: a `DedupIndex` and a
  * `VectorIndex` built once at set-up, then in every pass a text probe, a
  * vector probe, a knn self-query, an append epoch and a stats call, each
  * checked against the generated expectations. */
object IndexFamily {

  final case class Op(pass: Int, kind: String, node: JsonNode) {
    def items(field: String): Seq[JsonNode] =
      Option(node.get(field)).map(_.elements().asScala.toSeq).getOrElse(Nil)
  }

  def load(path: String): Map[(Int, String), Op] = Json.readLines(path).map { n =>
    val o = Op(n.get("pass").asInt(), Json.str(n, "kind"), n)
    (o.pass, o.kind) -> o
  }.toMap

  final class State(val spark: SparkSession, val dir: String, val ops: Map[(Int, String), Op]) {
    val tp = "bench_txt"
    val vp = "bench_vec"
    def tdir = s"$dir/text"
    def vdir = s"$dir/vec"
    var built: (Long, Long) = (0L, 0L)
    var appended: (Long, Long) = (0L, 0L)
    val acked = scala.collection.mutable.ArrayBuffer.empty[Op]
    val scanFiles, scanBytes, filesAdded, bytesRatio =
      scala.collection.mutable.ArrayBuffer.empty[Double]
  }

  private def docsDf(spark: SparkSession, items: Seq[JsonNode]): DataFrame =
    spark.createDataFrame(items.map(d => Row(d.get("doc_id").asLong(), d.get("text").asText())).asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))

  private def vecsDf(spark: SparkSession, items: Seq[JsonNode]): DataFrame =
    spark.createDataFrame(items.map { d =>
      val e = d.get("embedding")
      Row(d.get("vec_id").asLong(), (0 until e.size()).map(j => e.get(j).floatValue()))
    }.asJava, StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false))))

  /** Files and bytes under a local directory. */
  private def dirSize(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  /** Build both indexes over the corpus under `data`, side by side. */
  def build(spark: SparkSession, data: String, dir: String, opsPath: String): State = {
    val st = new State(spark, dir, load(opsPath))
    val text = new Thread(() => DedupIndex.build(spark.read.parquet(s"$data/index_docs.parquet"),
      "doc_id", "text", st.tdir, prefix = st.tp), "bench-text-build")
    text.start()
    VectorIndex.build(spark.read.parquet(s"$data/index_vecs.parquet"), "vec_id", "embedding",
      st.vdir, minCos = 0.9, prefix = st.vp, targetCellRows = 512)
    text.join()
    st.built = (DedupIndex.stats(spark, st.tp).docs, VectorIndex.stats(spark, st.vp).totalRows)
    st
  }

  /** Verdict checks: exact copies are duplicates, novel items are new. */
  private def verdicts(rec: Recorder, rows: Seq[Map[String, Any]], items: Seq[JsonNode],
      id: String, dup: String, forceDup: Boolean): Boolean = {
    val v = rows.map(r => r(id).asInstanceOf[Long] -> r("verdict").toString).toMap
    items.map { d =>
      val want = if (forceDup) "dup" else Json.str(d, "expect")
      val got = v.getOrElse(d.get(id).asLong(), "missing")
      rec.check(want == "any" || (want == "dup" && got == dup) || (want == "new" && got == "new"),
        s"$id ${d.get(id)}: want $want, got $got")
    }.forall(identity)
  }

  private def probeText(st: State, rec: Recorder, t: Tracer, items: Seq[JsonNode],
      forceDup: Boolean = false): Boolean = t.span("index.text_probe") {
    val df = DedupIndex.incrementalDedup(docsDf(st.spark, items), "doc_id", "text", st.tp, 0.5)
    val rows = collectRows(df)
    if (t.enabled) { val (f, b) = Trace.scanMetrics(df); st.scanFiles += f; st.scanBytes += b }
    verdicts(rec, rows, items, "doc_id", "exact_dup", forceDup)
  }

  private def probeVec(st: State, rec: Recorder, t: Tracer, items: Seq[JsonNode],
      forceDup: Boolean = false): Boolean = t.span("index.vec_probe") {
    val df = VectorIndex.incrementalDedup(vecsDf(st.spark, items), "vec_id", "embedding", st.vp)
    val rows = collectRows(df)
    if (t.enabled) { val (f, b) = Trace.scanMetrics(df); st.scanFiles += f; st.scanBytes += b }
    verdicts(rec, rows, items, "vec_id", "near_dup", forceDup)
  }

  private def append(st: State, t: Tracer, text: Boolean, items: Seq[JsonNode]): Unit = {
    val dir = if (text) st.tdir else st.vdir
    val payload = Json.write(items.map(Json.mapper.treeToValue(_, classOf[Object]))).length
    val (f0, b0) = if (t.enabled) dirSize(dir) else (0L, 0L)
    if (text) t.span("index.text_append")(
      DedupIndex.append(docsDf(st.spark, items), "doc_id", "text", st.tp))
    else t.span("index.vec_append")(
      VectorIndex.append(vecsDf(st.spark, items), "vec_id", "embedding", st.vp))
    if (t.enabled) {
      val (f1, b1) = dirSize(dir)
      st.filesAdded += (f1 - f0).toDouble
      st.bytesRatio += (b1 - b0).toDouble / payload
    }
  }

  /** Run this pass's operation of `kind`; false when a check failed. */
  def run(st: State, pass: Int, kind: String, rec: Recorder, t: Tracer): Boolean = {
    val o = st.ops((pass, kind))
    kind match {
      case "dedup" => probeText(st, rec, t, o.items("docs"))
      case "vector" => probeVec(st, rec, t, o.items("vectors"))
      case "knn" => t.span("index.knn") {
        val df = VectorIndex.knn(vecsDf(st.spark, o.items("queries")), "vec_id", "embedding", 10, st.vp)
        val top = collectRows(df).filter(_("rank") == 1)
          .map(r => r("query_id").asInstanceOf[Long] -> r("vec_id").asInstanceOf[Long]).toMap
        if (t.enabled) { val (f, b) = Trace.scanMetrics(df); st.scanFiles += f; st.scanBytes += b }
        o.items("queries").map { q =>
          val id = q.get("vec_id").asLong()
          rec.check(top.get(id).contains(id), s"knn top-1 of $id is ${top.get(id)}")
        }.forall(identity)
      }
      case "append" =>
        append(st, t, text = true, o.items("docs"))
        append(st, t, text = false, o.items("vectors"))
        st.appended = (st.appended._1 + o.items("docs").size, st.appended._2 + o.items("vectors").size)
        st.acked += o
        true
      case "stats" => t.span("index.stats") {
        val d = DedupIndex.stats(st.spark, st.tp)
        val v = VectorIndex.stats(st.spark, st.vp)
        rec.check(d.docs == st.built._1 + st.appended._1 && v.totalRows == st.built._2 + st.appended._2,
          s"stats: ${d.docs} docs / ${v.totalRows} vectors, want ${st.built} + ${st.appended}")
      }
    }
  }

  /** The same content under fresh ids: a probe of an id already in the
    * index is that item itself, not a duplicate. */
  private def fresh(items: Seq[JsonNode], id: String): Seq[JsonNode] = items.map { n =>
    val c = n.deepCopy[ObjectNode]()
    c.put(id, c.get(id).asLong() + 1000000000000L)
    c
  }

  /** After the timed passes: appended rows read back as duplicates, and a
    * fresh session attaching the index directories counts built plus
    * acknowledged appended rows. */
  def finish(st: State, rec: Recorder): Unit = {
    val off = new Tracer(false)
    st.acked.takeRight(1).foreach { o =>
      rec.oob(probeText(st, rec, off, fresh(o.items("docs"), "doc_id"), forceDup = true),
        s"read-back of pass ${o.pass} documents")
      rec.oob(probeVec(st, rec, off, fresh(o.items("vectors"), "vec_id"), forceDup = true),
        s"read-back of pass ${o.pass} vectors")
    }
    val s2 = st.spark.newSession()
    DedupIndex.attach(s2, st.tdir, st.tp + "_fresh")
    VectorIndex.attach(s2, st.vdir, st.vp + "_fresh")
    val docs = DedupIndex.stats(s2, st.tp + "_fresh").docs
    val vecs = VectorIndex.stats(s2, st.vp + "_fresh").totalRows
    rec.oob(docs == st.built._1 + st.appended._1,
      s"fresh attach: $docs docs, want ${st.built._1} + ${st.appended._1}")
    rec.oob(vecs == st.built._2 + st.appended._2,
      s"fresh attach: $vecs vectors, want ${st.built._2} + ${st.appended._2}")
  }

  /** Per-layer numbers of a traced run. */
  def layers(st: State, t: Tracer): Map[String, Double] = {
    def med(name: String) = Trace.median(t.durations(name))
    Map(
      "index.text_probe_ms" -> med("index.text_probe"),
      "index.vec_probe_ms" -> med("index.vec_probe"),
      "index.knn_ms" -> med("index.knn"),
      "index.files_scanned_per_probe" -> Trace.median(st.scanFiles.toSeq),
      "index.bytes_scanned_per_probe" -> Trace.median(st.scanBytes.toSeq),
      "index.text_append_ms" -> med("index.text_append"),
      "index.vec_append_ms" -> med("index.vec_append"),
      "index.files_added_per_append" -> Trace.median(st.filesAdded.toSeq),
      "index.bytes_written_per_payload_byte" -> Trace.median(st.bytesRatio.toSeq),
      "index.stats_ms" -> med("index.stats"),
      "index.waves_end" ->
        graft.operators.Bucketing.committedWaves(st.spark, st.tdir).size.toDouble)
  }
}
