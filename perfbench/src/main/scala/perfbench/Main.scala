package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, LogSilence, SparkEntry}

/** One benchmark run of one workload in a fresh JVM.
  *
  * Set-up (JVM, SparkSession, the workload's inputs, the program's
  * fixtures), then passes over the workload's operations, one at a
  * time, until `--seconds` have been measured: the first pass is
  * cold, the rest are warm, and at least [[WarmPasses]] warm passes
  * run. Each pass is timed in wall time, and in CPU time of the whole
  * process up to the end of the background work it set off (see
  * [[settle]]). After the passes: the heap still in use after full GCs, then
  * every operation's output compared with its first pass's (read only
  * now, see [[Output]]); the first pass's output is saved for the
  * oracle comparison made by the caller. Results go to
  * `<out>/result.json`.
  *
  * With `--trace 1`, listeners and spans add per-layer numbers
  * (see [[Counters]], [[Tracer]]); spans and per-pass counters are
  * written next to the result.
  *
  * Usage: Main --workload W --data DIR --out DIR --seconds S
  *   --trace 0|1 --cores N
  */
object Main {
  /** The warm figures are means over the first this many warm passes:
    * the JIT is still warming up over them, and moves its work from one
    * pass to the next, so a mean over a fixed number of passes repeats
    * where a single pass or the best one does not. */
  val WarmPasses = 2
  /** The process is quiet when it uses at most this share of one core. */
  val QuietCpu = 0.1
  val SettleMaxSec = 10.0

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = a("out")
    val data = new File(a("data")).getAbsolutePath
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val tmp = s"$out/tmp"
    val tracer = if (traced) new Tracer(s"${a("workload")}-${ProcessHandle.current().pid()}")
                 else Tracer.off
    val counters = if (traced) Some(new Counters) else None

    // --- set-up: process start until the first timed operation -------
    val spark = tracer.span("setup.session") {
      GraftSession.configure(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$tmp/spark-local")
        .config("spark.sql.warehouse.dir", s"$tmp/warehouse"))
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    LogSilence.boundedWindowWarnings()
    counters.foreach { c =>
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
    }
    val workload = Workloads(a("workload"), spark, data, tmp)
    val ops = workload.ops
    tracer.span("setup.inputs") { workload.setUp() }
    tracer.span("fixtures.setup") {
      SparkEntry.benchSetup(spark, data, Some(workload.queries.toSet))
    }
    val setupSec = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val fixtureSec = tracer.take().getOrElse("fixtures.setup", 0.0)
    val settles = mutable.ArrayBuffer(settle())

    // --- passes -------------------------------------------------------
    val outputs = ops.map(_.name -> mutable.ArrayBuffer.empty[Try[Output]]).toMap
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val passCpus = mutable.ArrayBuffer.empty[Double]
    val passLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    while (passWalls.size < 1 + WarmPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      var wall = 0.0
      val c0 = cpuNanos()
      val opLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
      ops.foreach { op =>
        op.prepare()
        val before = counters.map(_.snapshot(spark))
        val s0 = System.nanoTime()
        val result = Try(op.run(tracer))
        val opWall = (System.nanoTime() - s0) / 1e9
        wall += opWall
        counters.foreach { c =>
          val d = Counters.diff(c.snapshot(spark), before.get)
          opLayers += d ++ Map(
            s"op.${op.name}.jobs" -> d.getOrElse("spark.jobs", 0.0),
            // driver time outside SQL executions: plan building, mostly
            s"op.${op.name}.plan_s" -> (opWall - d.getOrElse("sql.busy_s", 0.0)),
            "cache.persisted_after_op" -> spark.sparkContext.getPersistentRDDs.size.toDouble)
        }
        outputs(op.name) += result.flatMap(keep => Try(keep()))
      }
      passWalls += wall
      settles += settle()
      passCpus += (cpuNanos() - c0) / 1e9
      if (traced) {
        val spans = tracer.take().map { case (k, v) => s"${k}_s" -> v }
        val sum = Counters.sum(opLayers.toSeq)
        val busy = sum.getOrElse("sched.job_busy_s", 0.0)
        passLayers += sum ++ spans ++ tracer.takeNotes() ++ workload.derive(sum) ++ Map(
          "sched.idle_s" -> (wall - busy),
          "executor.busy" -> sum.getOrElse("executor.run_s", 0.0) / (wall * cores))
      }
    }

    // --- after the passes (untimed) ----------------------------------
    // full GCs until the heap stops shrinking: Spark's ContextCleaner
    // frees the blocks of collected broadcasts and shuffles only after
    // a GC, asynchronously, and what it frees the next GC reclaims
    def heapAfterGc(): Long = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var heap = heapAfterGc()
    var settled = 0
    var rounds = 1
    while (settled < 3 && rounds < 20) {
      val h = heapAfterGc()
      settled = if (heap - h > (1L << 20)) 0 else settled + 1
      heap = math.min(heap, h)
      rounds += 1
    }
    val heapMb = heap / 1048576.0
    val status = outputs.map { case (name, outs) =>
      val read = outs.toSeq.map(_.flatMap(o => Try(o.lines).map(_ => o)))
      val first = read.collectFirst { case Success(o) => o }
      first.foreach(_.save(s"$out/outputs/$name"))
      name -> read.map {
        case Failure(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          "error: " + Option(e.getMessage).getOrElse(e.toString).linesIterator.nextOption().getOrElse("")
        case Success(o) => if (o.lines == first.get.lines) "ok" else "differs"
      }
    }
    workload.facts(out)
    // the program's own oracle statement of each catalog query
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.obj(
      workload.queries.map(q => q -> Json.str(SparkEntry.oracleSql(q)))) + "\n")
    spark.stop()
    workload.tearDown()
    pidDirs.foreach(deleteTree)

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // the end-to-end pass figures are CPU time: it counts only what the
    // JVM ran, so time the hypervisor or other processes take from it
    // does not inflate them as it does wall time
    def warmMean(xs: Seq[Double]) = xs.slice(1, 1 + WarmPasses).sum / WarmPasses
    val warm = warmMean(passWalls.toSeq)
    val warmCpu = warmMean(passCpus.toSeq)
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val warmLayers = passLayers.drop(1).toSeq
        val keys = warmLayers.flatMap(_.keys).distinct
        keys.map(k => k -> median(warmLayers.map(_.getOrElse(k, 0.0)))).toMap ++ Map(
          "codegen.cold_compiles" -> passLayers.head.getOrElse("codegen.compiles", 0.0),
          "codegen.cold_compile_s" -> passLayers.head.getOrElse("codegen.compile_s", 0.0),
          "jvm.cold_jit_s" -> passLayers.head.getOrElse("jvm.jit_s", 0.0),
          "fixtures.setup_s" -> fixtureSec,
          "wall.cold_pass_s" -> passWalls.head,
          "trace.cold_pass_cpu_s" -> passCpus.head,
          "wall.warm_pass_s" -> warm,
          "trace.warm_pass_cpu_s" -> warmCpu)
      }
    def nums(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ", ", "]")
    def layerObj(m: Map[String, Double]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    val result = Json.obj(Seq(
      "setup_s" -> Json.num(setupSec),
      "cold_pass_cpu_s" -> Json.num(passCpus.head),
      "warm_pass_cpu_s" -> Json.num(warmCpu),
      "pass_cpus_s" -> nums(passCpus.toSeq),
      "pass_walls_s" -> nums(passWalls.toSeq),
      "settle_s" -> nums(settles.toSeq),
      "retained_heap_mb" -> Json.num(heapMb),
      "ops" -> Json.obj(status.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> v.map(Json.str).mkString("[", ", ", "]") }),
      "layers" -> layerObj(layers)))
    Files.writeString(Paths.get(s"$out/result.json"), result + "\n")
    if (traced) {
      Files.writeString(Paths.get(s"$out/spans.jsonl"), tracer.jsonLines.mkString("", "\n", "\n"))
      Files.writeString(Paths.get(s"$out/passes.json"),
        passLayers.map(layerObj).mkString("[\n", ",\n", "\n]\n"))
    }
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNanos(): Long = osBean.getProcessCpuTime

  /** Waits, untimed, until the background work the last interval set
    * off (JIT compilation, concurrent GC, Spark's cleaner) has ended:
    * until the process used at most [[QuietCpu]] of one core over
    * two 200 ms windows in a row, for at most [[SettleMaxSec]].
    * Returns the seconds waited. */
  private def settle(): Double = {
    val start = System.nanoTime()
    var quiet = 0
    var cpu = cpuNanos()
    while (quiet < 2 && System.nanoTime() - start < SettleMaxSec * 1e9) {
      Thread.sleep(200)
      val now = cpuNanos()
      quiet = if (now - cpu <= QuietCpu * 200e6) quiet + 1 else 0
      cpu = now
    }
    (System.nanoTime() - start) / 1e9
  }

  /** Per-process scratch the program writes under `target/` in the
    * working directory (fixtures, Derby, layouts). */
  private def pidDirs: Seq[File] = {
    val pid = ProcessHandle.current().pid()
    Seq("fixtures", "derby", "prune", "buckets").map(d => new File(s"target/$d/pid-$pid"))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
