package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs: the shipped recipe at width 4
  * (getOrCreate → one JVM-wide session). */
trait SparkFixture {
  lazy val spark: SparkSession = Sessions.build(cpus = "4")

  val Sf = s"${PathRoot.TestData}/sf0.001"

  /** A catalog query's formatted explain, built but not executed. */
  def plan(name: String): String = SparkEntry.queries(name)(spark, Sf)
    .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
}
