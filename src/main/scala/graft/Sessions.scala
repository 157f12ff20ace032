package graft

import org.apache.spark.sql.SparkSession

/** The one place that knows the session confs every graft entry point
  * needs — new mains can't forget `nanosAsLong` (which
  * [[Tables.events]] hard-requires) or ship a 200-partition default
  * shuffle into a local run.
  */
object Sessions {

  /** Builder for a local session with the graft-required confs:
    * UTC (oracle parity), `nanosAsLong` (events.parquet stores
    * TIMESTAMP(NANOS)), shuffle partitions sized to the core count
    * (32 threads want 32 partitions, not the 200 default — at cluster
    * scale this is a per-job setting, not a constant).
    */
  def localBuilder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      // the graft extension point: native-function SQL registration +
      // the kernel-fusion optimizer rule (portable shingle→hash
      // composition rewrites to the fused native expression)
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // even with the UI off, the app-status store retains up to 1000
      // SQL executions (each holding the FULL physical-plan string —
      // MBs for the iterative plans here) and 100k task wrappers; over
      // a 464-query bench run that is GBs of driver heap retention and
      // the GC pressure behind the r10 "driver medians 2× idle" drift
      // (VERDICT r10 item 3). Keep only a handful.
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "64")
      .config("spark.ui.retainedStages", "128")
      .config("spark.ui.retainedTasks", "2048")
      // managed tables (the bucketed-join path, q164) land in a temp
      // warehouse, never the working directory; the in-memory catalog
      // (no Hive) keeps the metastore off disk entirely
      .config("spark.sql.warehouse.dir", warehouseDir)

  /** ONE temp warehouse per JVM (not per builder call), removed on
    * exit — repeated Verify/Bench runs can't accumulate bucketed
    * table copies on disk.
    */
  private lazy val warehouseDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-warehouse")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)))
    dir.toString
  }
}
