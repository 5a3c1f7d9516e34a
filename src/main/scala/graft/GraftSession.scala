package graft

import org.apache.spark.sql.SparkSession

/** The one local session configuration every graft entry point runs
  * under: Bench, Verify, Probe and the test suite. Callers choose only
  * the parallelism and the log level.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else the caller's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** `local[cpus]` with one shuffle partition per core. */
  def local(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // InferFiltersFromGenerate duplicates every kernel-array generator
      // into a Filter below the Generate (size(kernel(..)) > 0 AND ..
      // IS NOT NULL) that pushdown re-inlines -- the gram/band kernels
      // then run TWICE per row, and the Generate already skips null/empty
      // arrays on its own (outer = false). Always a pessimization for
      // this engine's plans (round-12 kernel-in-filter sweep, triaged in
      // PlanAssertSpec), so excluded.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts physical type has varied by round (int64 ns, then
      // timestamp[us]); nanosAsLong covers the ns variant and
      // Tables.eventsNs normalizes whichever arrives to nanos longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
