package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main and every spec
  * gets the production shape from here — `local[cpus]`, shuffle
  * partitions = cpus, UTC, AQE on, UI off, a 2000-entry codegen class
  * cache, [[GraftExtensions]] (the injected SQL functions, the
  * `jira_tasks` generator and the as-of join strategy), log level WARN.
  */
object Sessions {

  /** SPARK_GRAFT_CPUS if set, else every core of this machine. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Idempotent: while a session exists, every call returns it
    * unchanged (extensions apply only when a session is created, so
    * the first call's `cpus` stands). Every main takes the default;
    * only the test fixture `graft.SparkSpec` passes its own size.
    */
  def local(cpus: Int = Sessions.cpus): SparkSession =
    SparkSession.getDefaultSession.getOrElse {
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        // the default 100 entries is smaller than the distinct generated
        // classes of a curation round (driver and executor compile
        // separately), so classes were evicted and recompiled every round
        .config("spark.sql.codegen.cache.maxEntries", 2000)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      // every window without PARTITION BY that warns here is a
      // bounded global window (Round9PlanSpec audits the sites)
      Configurator.setLevel(
        "org.apache.spark.sql.execution.window", Level.ERROR)
      spark
    }
}
