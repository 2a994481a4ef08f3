package graft

import org.apache.spark.sql.SparkSession

/** Single SparkSession recipe for every main (Bench/Verify/Smoke/Explain)
  * — the cross-engine-parity configs (UTC, nanosAsLong) must never drift
  * between entry points. */
object Sessions {
  def build(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            logLevel: String = "WARN"): SparkSession = {
    // Locale-independence belt+braces (build.sbt pins -Duser.language for
    // forked JVMs; this covers spark-submit / embedded callers): Spark's
    // lower() non-ASCII path and Java toLowerCase use the JVM default
    // locale, which must not drift from the DuckDB oracle's behavior.
    java.util.Locale.setDefault(java.util.Locale.US)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // full extension surface incl. the parser tier (GRAFT TOPK dialect);
      // the parser can only be injected at session build
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Local-deployment scan-split tuning: the default 4 MB per-file open
      // cost swamps the split formula for the small harness parquets, so
      // every scan planned as ~1 partition and first-stage explodes ran
      // near-serial on a 32-core box. Open cost on local page-cached disk
      // is ~zero; 64 KB lets bytesPerCore drive the split count instead.
      // (On object storage at cluster scale the 4 MB default is the right
      // number — this is a deployment knob, not engine logic.)
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "65536"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
