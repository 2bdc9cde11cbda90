package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** The session every spec runs on: the production shape from
  * [[Sessions.local]] on four cores, shared by all suites of the JVM
  * and never stopped, so no suite's settings or result depend on
  * which suite ran before it.
  */
trait SparkSpec {
  lazy val spark: SparkSession = Sessions.local(4)

  /** Runs `body` with the session settings `kvs`, restoring the
    * previous values afterwards (the session is shared). Plans are
    * optimized and compiled when an action runs, so build and collect
    * inside.
    */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` with every expression evaluated by its interpreted
    * `eval`: no whole-stage codegen and no generated projections.
    */
  def interpreted[T](body: => T): T =
    withConf("spark.sql.codegen.wholeStage" -> "false",
      SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN")(body)
}
