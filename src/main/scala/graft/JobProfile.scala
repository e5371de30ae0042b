package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable

/** Optimization-round instrumentation: run named queries under a
  * SparkListener and attribute wall time to individual Spark jobs and
  * stages (with shuffle bytes), so a slow query's seconds can be
  * assigned to probe actions, persists, shuffles, or the final
  * collect instead of guessed at. Guide §1 (measure first): the UI is
  * disabled in the bench harness, so this is the repo's stand-in for
  * the Stages tab.
  *
  * Usage: runMain graft.JobProfile <sfDir> <query> [query...]
  * Prints, per query: cold and warm wall seconds, the generated classes
  * each pass compiled and their Janino seconds (a warm pass should
  * compile none: a nonzero warm count means the plan's classes are not
  * reused from Spark's codegen cache), then per-job lines (duration,
  * description, stage count) and per-stage shuffle totals for the warm
  * pass.
  */
object JobProfile {
  final case class StageRec(
      id: Int, name: String, var ms: Long = 0L,
      var shufRead: Long = 0L, var shufWrite: Long = 0L,
      var input: Long = 0L, var tasks: Int = 0,
      var runMs: Long = 0L, var deserMs: Long = 0L,
      var rdds: String = "")
  final case class JobRec(
      id: Int, desc: String, t0: Long, var t1: Long = 0L,
      stages: mutable.Set[Int] = mutable.Set.empty)

  class Rec extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.LinkedHashMap.empty[Int, StageRec]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, desc, e.time)
      jobs(e.jobId).stages ++= e.stageIds
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val r = stages.getOrElseUpdate(si.stageId,
        StageRec(si.stageId, si.name.takeWhile(_ != '\n')))
      r.ms += si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
      r.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
      r.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
      r.input += si.taskMetrics.inputMetrics.bytesRead
      r.tasks += si.numTasks
      r.runMs += si.taskMetrics.executorRunTime
      r.deserMs += si.taskMetrics.executorDeserializeTime
      r.rdds = si.rddInfos.map(_.name).distinct.mkString(",")
    }
    def reset(): Unit = synchronized { jobs.clear(); stages.clear() }
  }

  /** Janino compiles and their seconds, JVM-wide (the counters are
    * static: concurrent queries would share them). */
  final case class Codegen(compiles: Long, seconds: Double) {
    def -(o: Codegen): Codegen = Codegen(compiles - o.compiles, seconds - o.seconds)
    override def toString: String = f"compiles=$compiles compile_s=$seconds%.3f"
  }
  object Codegen {
    def now(): Codegen = Codegen(
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime / 1e9)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProfile <sfDir> <query> [query...]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    LogSilence.boundedWindowWarnings()
    val rec = new Rec
    spark.sparkContext.addSparkListener(rec)
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    SparkEntry.benchSetup(spark, sfDir, Some(args.tail.toSet))
    args.tail.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"unknown query '$n'")
        case Some(fn) =>
          def once(): (Double, Codegen) = {
            val c0 = Codegen.now()
            val t0 = System.nanoTime()
            Bench.evalAll(fn(spark, sfDir))
            ((System.nanoTime() - t0) / 1e9, Codegen.now() - c0)
          }
          val (cold, coldGen) = once()
          rec.reset()
          val (warm, warmGen) = once()
          // listener events are posted async: poll until the recorded
          // job count stabilizes (a fixed sleep under-reports on a
          // loaded host, and profile decisions ride these numbers)
          var last = -1
          var same = 0
          var waited = 0
          while (same < 3 && waited < 10000) {
            Thread.sleep(200); waited += 200
            val n = rec.synchronized(rec.jobs.size + rec.stages.size)
            if (n == last) same += 1 else { same = 0; last = n }
          }
          println(f"===== $n cold=$cold%.3f warm=$warm%.3f =====")
          println(s"  codegen cold: $coldGen")
          println(s"  codegen warm: $warmGen")
          rec.synchronized {
            val jobTotal = rec.jobs.values.map(j => j.t1 - j.t0).sum / 1e3
            println(f"  jobs=${rec.jobs.size} jobWallSum=$jobTotal%.3f s (overlap possible)")
            rec.jobs.values.foreach { j =>
              val st = j.stages.toSeq.sorted.flatMap(rec.stages.get)
              val sr = st.map(_.shufRead).sum / 1e6
              val sw = st.map(_.shufWrite).sum / 1e6
              val in = st.map(_.input).sum / 1e6
              val names = st.map(s => s"${s.name}[${s.tasks}]").distinct.mkString(" | ")
              println(f"  job ${j.id}%3d ${(j.t1 - j.t0) / 1e3}%7.3f s stages=${j.stages.size}%2d in=$in%8.1fMB sr=$sr%7.1fMB sw=$sw%7.1fMB  ${j.desc.take(60)} ${names.take(160)}")
            }
            val heavy = rec.stages.values.toSeq.sortBy(-_.ms).take(8)
            heavy.foreach { s =>
              println(f"    stage ${s.id}%4d ${s.ms / 1e3}%7.3f s tasks=${s.tasks}%3d run=${s.runMs / 1e3}%7.3f deser=${s.deserMs / 1e3}%6.3f in=${s.input / 1e6}%8.1fMB sr=${s.shufRead / 1e6}%7.1fMB sw=${s.shufWrite / 1e6}%7.1fMB ${s.name.take(40)} rdds=${s.rdds.take(120)}")
            }
          }
      }
    }
    spark.stop()
  }
}
