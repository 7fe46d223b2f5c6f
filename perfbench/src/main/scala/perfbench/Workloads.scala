package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The gate workload's timed queries.
  *
  * A gate run holds about fifteen seconds of cold queries (each run is a
  * fresh JVM), so it times this fixed set rather than all of
  * `SparkEntry.queries`, and the seed permutes its order. The set takes
  * queries the open performance items name, plus one query each for
  * multi-table resolution, the bucketed layout and streaming micro-batches
  * (see METHOD.md).
  */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  val gate: Vector[String] = Vector(
    "q3_revenue_by_nation", // four table reads, two joins, an aggregate
    "bk_colocated_join",    // reads the bucketed tables built at set-up
    "mv_join_incremental",  // construction-heavy incremental view refresh
    "an_runs",              // nine construction jobs
    "dq_profile",           // exact distinct over prices, UDF aggregates
    "st_stream_commit")     // streaming micro-batches with a restart

  def query(name: String): Query = graft.SparkEntry.queries(name)

  /** A run's queries: the gate set in seed order. */
  def order(seed: Long): Vector[String] = new scala.util.Random(seed).shuffle(gate)
}
