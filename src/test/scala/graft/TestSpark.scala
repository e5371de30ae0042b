package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks one test JVM). */
object TestSpark {

  /** ERROR events from Spark's `CodeGenerator` logger (a Janino
    * compile failure means the stage silently fell back to
    * interpreted execution — a perf cliff at scale with zero
    * correctness signal), counted across the whole forked test JVM.
    * CodegenHealthSpec pins the count at zero over the previously
    * regressing plan shapes; any suite may also assert no NEW errors
    * around a plan it owns.
    */
  val codegenErrors = new java.util.concurrent.atomic.AtomicInteger(0)

  private def installCodegenErrorCounter(): Unit =
    try {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
      val appender = new AbstractAppender("graft-codegen-error-counter",
          null, null, true, Property.EMPTY_ARRAY) {
        override def append(event: LogEvent): Unit =
          if (event.getLevel.isMoreSpecificThan(Level.ERROR)) {
            codegenErrors.incrementAndGet()
            ()
          }
      }
      appender.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
      val lc = cfg.getLoggerConfig(name)
      if (lc.getName == name) lc.addAppender(appender, Level.ERROR, null)
      else {
        // additive: the event still reaches the root appenders, so
        // the failure stays visible in the suite log too
        val nlc = new LoggerConfig(name, Level.ERROR, true)
        nlc.addAppender(appender, Level.ERROR, null)
        cfg.addLogger(name, nlc)
      }
      ctx.updateLoggers()
    } catch { case _: Throwable => () } // non-log4j2 backend: no counter

  /** Built through [[GraftSession.configure]], so the suites run the
    * engine's own session settings (codegen class reuse among them). */
  lazy val spark: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    installCodegenErrorCounter()
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
