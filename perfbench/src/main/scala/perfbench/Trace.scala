package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** A timed call into one layer, recorded from the benchmark's side of the
  * boundary: `op` groups the spans of one operation, `parent` is the span
  * that caused it (-1 for the operation's root). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span store. Disabled tracers time nothing and record
  * nothing, so the same replay code serves the traced and untraced
  * passes. */
final class Tracer(val enabled: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val opId = new ThreadLocal[Long] { override def initialValue() = -1L }

  /** Run `body` as operation `op`: its Spark jobs carry job group
    * `op-<id>` so listener counts attribute to it. */
  def op[A](sc: SparkContext, op: Long, name: String)(body: => A): A = {
    opId.set(op)
    if (enabled) sc.setJobGroup(s"op-$op", name, interruptOnCancel = false)
    try span(name)(body)
    finally { if (enabled) sc.clearJobGroup(); opId.set(-1L) }
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(-1L), opId.get(), name,
          t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Durations (ms) of every span with this name. */
  def durations(name: String): Seq[Double] =
    spans.asScala.filter(_.name == name).map(_.ms).toSeq

  /** Self time per span name: duration minus the part covered by child
    * spans (children of one parent never overlap here — one thread). */
  def selfTimes: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def toRows: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}

/** Spark scheduler counts per job group (= per traced operation). */
final class OpListener extends SparkListener {
  final class Counts {
    @volatile var jobs, stages, tasks = 0L
    @volatile var schedDelayMs, taskMs, inputRows, inputBytes, shuffleWrite,
      spill = 0L
  }
  val byGroup = TrieMap.empty[String, Counts]
  private val stageGroup = TrieMap.empty[Int, String]
  private val stageSubmit = TrieMap.empty[Int, Long]
  @volatile var lastEventNs: Long = System.nanoTime()

  private def counts(g: String) = byGroup.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventNs = System.nanoTime()
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
    val c = counts(g)
    c.synchronized { c.jobs += 1 }
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    lastEventNs = System.nanoTime()
    val g = stageGroup.getOrElse(e.stageInfo.stageId, "none")
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    val c = counts(g)
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventNs = System.nanoTime()
    val c = counts(stageGroup.getOrElse(e.stageId, "none"))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      stageSubmit.get(e.stageId).foreach(s =>
        c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - s))
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Block until no scheduler event arrived for `quietMs`. */
  def drain(quietMs: Long = 400, maxMs: Long = 10000): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - lastEventNs) / 1e6 < quietMs &&
      (System.nanoTime() - t0) / 1e6 < maxMs) Thread.sleep(50)
  }
}

object Trace {
  /** (files, bytes) read by the file scans of an executed plan, through
    * adaptive wrappers and query stages. */
  def scanMetrics(df: DataFrame): (Long, Long) = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    val scans = walk(df.queryExecution.executedPlan)
    def metric(f: FileSourceScanExec, k: String) =
      f.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum)
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Total time spent compiling generated code so far, in ms (Spark's
    * cumulative `CodeGenerator.compileTime` nanosecond counter). */
  def codegenMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-operation averages of the listener counts over `groups`, plus
    * session-wide spill and cached bytes. */
  def sparkLayer(l: OpListener, groups: Set[String], sc: SparkContext): Map[String, Double] = {
    val cs = l.byGroup.filter { case (g, _) => groups.contains(g) }.values.toSeq
    val n = math.max(1, groups.size).toDouble
    def per(f: l.Counts => Long) = cs.map(f).sum / n
    Map(
      "spark.jobs_per_op" -> per(_.jobs),
      "spark.stages_per_op" -> per(_.stages),
      "spark.tasks_per_op" -> per(_.tasks),
      "spark.sched_delay_ms_per_op" -> per(_.schedDelayMs),
      "spark.input_rows_per_op" -> per(_.inputRows),
      "spark.input_bytes_per_op" -> per(_.inputBytes),
      "spark.task_ms_per_op" -> per(_.taskMs),
      "spark.shuffle_write_bytes_per_op" -> per(_.shuffleWrite),
      "spark.spill_bytes" -> l.byGroup.values.map(_.spill).sum.toDouble,
      "spark.cached_bytes" -> sc.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum.toDouble)
  }
}
