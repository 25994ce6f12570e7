package graft

import org.apache.spark.sql.SparkSession

/** Library entry point and the ONE session factory: the bench, the
  * correctness dump, the diagnostics main, the test suites and the
  * server all build their sessions here, so the measured and tested
  * config is the shipped one. Callers add deployment settings only
  * (UI, log level, filesystem implementation).
  *
  * Settings mirror what the reference gets from its purpose-built
  * storage and what every query here assumes:
  *  - UTC session time (all Epoch arithmetic is UTC, SURVEY §7.4);
  *  - ns parquet timestamps read as raw longs (Spark has no ns
  *    timestamp type; truncation discipline lives in
  *    [[graft.sources.Tables]]);
  *  - the vector and window Catalyst expressions registered for SQL
  *    use ([[create]]).
  *
  * `shufflePartitions` should be ~2-3× total executor cores on a real
  * cluster; the default suits local development.
  */
object GraftSession {

  def builder(
      master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Build (or join) the session and register the engine's SQL
    * functions. Registration replaces by name, so calling this again
    * on a live session is harmless.
    */
  def create(b: SparkSession.Builder = builder()): SparkSession = {
    val s = b.getOrCreate()
    org.apache.spark.sql.graft.VectorFunctions.register(s)
    org.apache.spark.sql.graft.WindowFunctions.register(s)
    s
  }
}
