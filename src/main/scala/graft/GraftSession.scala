package graft

import org.apache.spark.sql.SparkSession

/** The blessed SparkSession configuration for this engine — one place
  * for the settings correctness and scale depend on, used by the
  * harness mains and recommended for embedding applications:
  *
  *   - UTC session timezone (the nanos→NTZ shim and all watermark
  *     formatting assume it);
  *   - `nanosAsLong` (Spark 4 cannot read TIMESTAMP(NANOS) parquet
  *     otherwise — the events table needs it);
  *   - AQE on (runtime coalescing + skew-join splitting);
  *   - shuffle partitions sized to the deployment (cores locally; on a
  *     cluster, ~2-3× total executor cores);
  *   - the vec_dot/vec_norm extensions registered;
  *   - a generated-class cache large enough for the engine's plans
  *     (`spark.sql.codegen.cache.maxEntries`, static, default 100). At
  *     the default a warm `CorpusPrepJob.increment` of a 265-doc batch
  *     with distributed MinHash plans evicted and recompiled its own
  *     classes every tick — 181–184 compiles per tick, 0–4 at 1000
  *     entries (`CodegenMetrics` compilation count, local[4]) — and
  *     with the driver-side plans its working set (~95 classes) still
  *     sits just under the default. 1000 holds the increment and the
  *     query inventory's hot plans.
  */
object GraftSession {

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")

  def create(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    // pin the JVM-default zone alongside the session zone: gate/spec
    // Timestamp.valueOf literals parse in the JVM default, and the
    // page sidecars + DuckDB oracle's naive timestamps are UTC —
    // without this, a non-UTC host skews every boundary-exact
    // comparison (java-launched mains bypass build.sbt's -Duser.timezone)
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val spark = builder(master, shufflePartitions).getOrCreate()
    // getOrCreate may return a pre-existing session whose extensions
    // config didn't apply — runtime registration is idempotent
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
