package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark formulation plus (when SQL-expressible)
  * its DuckDB oracle. Packs keep SparkEntry a thin aggregator.
  */
final case class Q(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryPack {
  def defs: Map[String, Q]

  /** Pack display name — the bench's fork-per-pack unit label. */
  def name: String = getClass.getSimpleName.stripSuffix("$")
}

/** Shared teardown for queries that stage data in an external medium
  * (embedded Derby, temp files): materialize the small read-back frame
  * so the lazy plan can't outlive the medium, then destroy the medium
  * — also when the materialization throws. The returned frame is a
  * LocalRelation — downstream orderBy/write plans stay valid after the
  * database/directory is gone, and repeated Bench iterations don't
  * accumulate live fixtures, failing ones included.
  */
object Fixtures {

  /** Materialize a JDBC read-back (these are ≤100-row dims) and DROP
    * the in-memory Derby database. Derby signals a successful drop
    * with SQLException 08006, hence the swallow.
    */
  def materializeAndDrop(df: DataFrame, url: String): DataFrame =
    try materialize(df)
    finally {
      val dropUrl = url.split(";")(0) + ";drop=true"
      try { java.sql.DriverManager.getConnection(dropUrl); () }
      catch { case _: java.sql.SQLException => () }
    }

  /** Same idea for file round trips: materialize, then delete the
    * temp directory recursively.
    *
    * `SPARK_GRAFT_AUDIT_INNER=1` prints the INNER plan's
    * shuffle/broadcast/cartesian/codegen counts to stderr before the
    * collect — ExplainAudit sees only the returned LocalRelation for
    * materialized gates, so this is where their real plan shape is
    * observable (dev/judge tooling, not a hot path).
    */
  def materializeAndDelete(df: DataFrame, dir: java.nio.file.Path): DataFrame =
    try {
      if (sys.env.contains("SPARK_GRAFT_AUDIT_INNER")) audit(df)
      materialize(df)
    } finally
      java.nio.file.Files.walk(dir).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })

  /** The collected rows of `df` as a LocalRelation. */
  private def materialize(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(df.collect().toIndexedSeq.asJava,
      df.schema)
  }

  private def audit(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toSeq
    val sh = lines.count(_.contains("Exchange hashpartitioning")) +
      lines.count(_.contains("Exchange rangepartitioning"))
    val bc = lines.count(_.contains("BroadcastExchange"))
    val ca = lines.count(_.contains("CartesianProduct")) +
      lines.count(_.contains("BroadcastNestedLoopJoin"))
    val cg = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan)
      .map(_.group(1)).toSet.size
    System.err.println(s"[inner-audit] shuffles=$sh broadcasts=$bc " +
      s"cartesians=$ca codegenSpans=$cg")
  }
}
