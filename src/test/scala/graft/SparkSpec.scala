package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.SQLConf

/** The session every spec runs on: the production shape from
  * [[Sessions.local]] on four cores, shared by all suites of the JVM
  * and never stopped, so no suite's settings or result depend on
  * which suite ran before it.
  */
trait SparkSpec {
  lazy val spark: SparkSession = Sessions.local(4)

  /** Runs `body` with the optimizer rewrites of [[GraftExtensions]]
    * excluded, so the composed built-in forms they replace evaluate as
    * written — the independent reference of a kernel differential
    * test. Plans are optimized when an action runs, so build and
    * collect inside. The session is shared: the previous setting is
    * restored afterwards.
    */
  def withoutRewrites[T](body: => T): T = {
    val key = SQLConf.OPTIMIZER_EXCLUDED_RULES.key
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, Seq(plans.Md5PrefixRewrite, plans.VecSqDistRewrite,
      plans.VecDotRewrite, plans.ArrayIntersectSizeRewrite)
      .map(_.ruleName).mkString(","))
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Whether the optimized plan of `df` still evaluates an expression
    * satisfying `p` — the guard that a reference escaped the rewrites
    * (call it inside [[withoutRewrites]]).
    */
  def optimizedKeeps(df: DataFrame)(p: Expression => Boolean): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(p)))
}
