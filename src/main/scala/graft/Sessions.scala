package graft

import org.apache.spark.sql.SparkSession

/** Single SparkSession recipe for every main, perfbench and the specs
  * (`SparkFixture`) — the cross-engine-parity configs (UTC, nanosAsLong)
  * must never drift between entry points. */
object Sessions {
  /** Entries in Spark's generated-code cache (`spark.sql.codegen.cache.
    * maxEntries`, default 100): enough that a warm run of any catalog query
    * finds every class it generates already compiled. At Spark's 100 a warm
    * q_betweenness recompiled ~80 of its 114 classes on every run (~0.6 s
    * of Janino per run, plus executor tasks parked on the cache's per-key
    * lock while another task compiled the same class). Measured at sf0.001
    * in whole-catalog passes of one JVM: one query adds at most 88–120 new
    * classes (q_betweenness, q_mis, q_viterbi_hmm, q_pipeline_assemble),
    * and the 47 headline queries add ≥ 337, so this is over 2× the largest
    * single query and covers the headline set. A full catalog pass
    * generates ~7,800 distinct classes, so the cache stays bounded; each
    * resident class costs metaspace (~36 KB on average, SCALE.md).
    *
    * The key is a static conf: Spark reads it once per JVM, when the
    * `CodeGenerator` cache is built at the JVM's first code generation.
    * Setting it on a live session, or building a second session in the
    * same JVM after code was generated, changes nothing. */
  final val CodegenCacheEntries = 1000

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
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.warehouse.dir", s"${PathRoot.Target}/tmp/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
