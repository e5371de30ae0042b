package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters of one JVM, read from outside the program:
  * Spark listener events, Catalyst phase times of finished query
  * executions, Janino compile totals, and the JVM's GC and JIT times.
  * A layer's cost over an interval is the difference of two
  * [[Counters.snapshot]]s taken at its ends. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var activeJobs = 0
  private var busySince = 0L
  private var activeSql = 0
  private var sqlSince = 0L

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1)
    if (activeJobs == 0) busySince = e.time
    activeJobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs -= 1
    if (activeJobs == 0) add("sched.job_busy_s", (e.time - busySince) / 1e3)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("spark.stages", 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    Option(e.taskMetrics).foreach { m =>
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
      add("shuffle.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("scan.input_mb", m.inputMetrics.bytesRead / 1e6)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      add("spark.sql_executions", 1)
      if (activeSql == 0) sqlSince = e.time
      activeSql += 1
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      activeSql -= 1
      if (activeSql == 0) add("sql.busy_s", (e.time - sqlSince) / 1e3)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (Set("analysis", "optimization", "planning").contains(phase))
        add(s"catalyst.${phase}_s", s.durationMs / 1e3)
    }
  }

  /** Drains the listener bus, then returns every counter, the JVM's and
    * Janino's included. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.waitUntilEmpty(spark.sparkContext)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    synchronized {
      c.toMap ++ Map(
        "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
        "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
        "jvm.jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
        "jvm.gc_s" -> gc / 1e3)
    }
  }
}

object Counters {
  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    (after.keySet ++ before.keySet).map(k =>
      k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap

  def sum(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> ms.map(_.getOrElse(k, 0.0)).sum).toMap
}

/** Spans kept in memory and written out at the end of a traced run.
  * The untraced run uses [[Tracer.off]], which only runs the body. */
class Tracer(val runId: String) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  /** Seconds per span name since the last [[take]]. */
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Figures the program reports, by name, since the last [[takeNotes]]. */
  private val notes = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
    spans += s
    open = s.id :: open
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      acc(name) += (s.endNs - s.startNs) / 1e9
    }
  }

  def take(): Map[String, Double] = { val m = acc.toMap; acc.clear(); m }

  def note(name: String, value: Double): Unit = notes(name) += value

  def takeNotes(): Map[String, Double] = { val m = notes.toMap; notes.clear(); m }

  def jsonLines: Seq[String] = spans.toSeq.map(s => Json.obj(Seq(
    "run" -> Json.str(runId), "id" -> s.id.toString, "name" -> Json.str(s.name),
    "parent" -> s.parent.toString, "start_ns" -> s.startNs.toString,
    "end_ns" -> s.endNs.toString)))
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)

  val off: Tracer = new Tracer("") {
    override def span[A](name: String)(body: => A): A = body
    override def note(name: String, value: Double): Unit = ()
  }
}
