package perfbench

import graft.engine.GraftSession

/** The `key=value` arguments `run.py` passes; every key a workload reads
  * is required. */
final case class Args(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k="))
  def workload: String = apply("workload")
  def out: String = apply("out")
  def trace: Boolean = apply("trace") == "1"
  def cores: Int = apply("cores").toInt
}

/** The benchmark's JVM side. The Python driver (`run.py`) generates the
  * inputs, starts this main, and turns the raw samples it writes to
  * `<out>/result.json` into metrics:
  *
  * {{{
  * perfbench.Main workload=finops_api data=<dir> warm_ops=<jsonl> ops=<jsonl>
  *   reference_date=<yyyy-mm-dd> out=<dir> trace=0 cores=4
  * perfbench.Main workload=batch_suite data=<dir> warm=<dir> ops=<jsonl>
  *   index_ops=<jsonl> passes=1 out=<dir> trace=0 cores=4
  * }}}
  */
object Main {
  def parse(argv: Array[String]): Args =
    Args(argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new java.io.File(a.out).mkdirs()
    val rec = new Recorder
    // the session the program ships: GraftFinOpsEngine's default
    val spark = GraftSession.local(a.cores, appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    rec.info.put("session_s", Clock.sinceJvmStart)
    var error: Option[String] = None
    try a.workload match {
      case "finops_api" => Finops.run(spark, a, rec)
      case "batch_suite" => Batch.run(spark, a, rec)
      case w => sys.error(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        error = Some(e.toString)
        e.printStackTrace()
    }
    rec.info.put("heap_peak_mb", Trace.heapPeakMb)
    Json.writeFile(s"${a.out}/result.json", rec.toJson ++
      Map("error" -> error.orNull))
    Json.writeFile(s"${a.out}/responses.json",
      rec.responses.toArray.toSeq)
    spark.stop()
    System.exit(if (error.isEmpty) 0 else 3)
  }
}
