package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.GraftSqlShim

/** The suite's one pass over the whole catalog, run lazily once per test
  * JVM: each query is built once and collect()ed on its own Dataset (a
  * write would execute a separate command plan), so build-time jobs and
  * sink writes run once. A failing query is recorded and the pass goes on. */
object CatalogRun extends SparkFixture {

  /** `explain` is the executed formatted explain: under AQE it prints the
    * final tree and the initial tree. */
  final case class Executed(rows: Int, explain: String, unboundedGlobalWindows: Int) {
    /** `explain` pruned to AQE's final tree, counted like PlanAudit. */
    def finalPlan: String = PlanAudit.finalPlanOnly(explain)
  }

  lazy val results: Map[String, Either[String, Executed]] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> (try {
        val df = q(spark, Sf)
        val rows = df.collect().length
        Right(Executed(rows, df.queryExecution.explainString(FormattedMode),
          GraftSqlShim.unboundedGlobalWindows(df.queryExecution.executedPlan)))
      } catch { case e: Throwable => Left(e.toString) }
      finally spark.catalog.clearCache())
    }.toMap

  def apply(name: String): Executed =
    results(name).fold(e => throw new AssertionError(s"$name failed: $e"), identity)
}
