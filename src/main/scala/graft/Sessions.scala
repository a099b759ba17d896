package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe of the harness mains (`Bench`, `Verify`,
 * `PlanAB`, `PlanDump`, `ScaleBench`) and the test suite, so the conf a
 * plan was dumped, timed or tested under is the one `graft.Bench` times.
 * `graft.Main` keeps its own builder: under spark-submit the properties
 * file owns the production conf. */
object Sessions {
  def harness(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // legacy-fixture compat: current fixtures store events.ts as µs NTZ
    // (normalized in TableIO.read); this flag only matters if an old
    // TIMESTAMP(NANOS) fixture is read, surfacing ts as a long for the
    // same seam's nanos branch.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // canonical registration of the custom TopKPerKey operator stack
    .config("spark.sql.extensions", "org.apache.spark.sql.graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
