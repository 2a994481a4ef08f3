package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs: the shipped recipe at width 4, built
  * once per test JVM (see the companion). */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session

  val Sf = s"${PathRoot.TestData}/sf0.001"

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
}
