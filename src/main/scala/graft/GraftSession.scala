package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main and the shared test fixture
  * start from [[builder]], which already carries the session contract
  * the catalog and its oracles depend on —
  *
  *  - `local[n]` with `spark.sql.shuffle.partitions` = n, where n is
  *    `SPARK_GRAFT_CPUS` or, when that is unset, the core count;
  *  - UTC session time zone (the NTZ cast in `EventOps.normalizeTs` is
  *    instant-preserving only under it);
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` (fixtures whose
  *    `events.ts` is TIMESTAMP(NANOS) read as long nanos);
  *  - [[graft.functions.GraftExtensions]] (native functions, AsOfJoin);
  *  - the Spark UI off.
  *
  * Callers add only what really differs for them (an app name, a
  * warehouse dir, a catalog) and end with `getOrCreate()`. */
object GraftSession {

  def builder(): SparkSession.Builder = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
  }
}
