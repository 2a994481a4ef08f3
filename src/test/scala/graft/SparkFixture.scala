package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, classic}

/** Shared local session for specs: the shipped recipe at width 4, built
  * once per test JVM (see the companion). */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session

  val Sf = s"${PathRoot.TestData}/sf0.001"

  /** Runs `body` with the session conf `key` set to `value`, then puts the
    * previous value back. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A catalog query's formatted explain, built but not executed. */
  def plan(name: String): String = SparkEntry.queries(name)(spark, Sf)
    .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
}

object SparkFixture {
  /** The one session every spec shares. Built on first use only: calling
    * `Sessions.build` again would re-apply its runtime confs to the live
    * session between specs, so a spec that changes a runtime conf restores
    * it itself. */
  lazy val session: SparkSession = Sessions.build(cpus = "4")

  /** A new session over the same SparkContext built without
    * `spark.sql.extensions`: no graft function names, rules or strategies.
    * The private constructor is the only way to such a second session. */
  def bareSession(): SparkSession = {
    val live = session.asInstanceOf[classic.SparkSession]
    val ctor = classOf[classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    ctor.newInstance(live.sparkContext, Some(live.sharedState), None, new SparkSessionExtensions,
      Map("spark.sql.shuffle.partitions" -> "4"), Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }
}
