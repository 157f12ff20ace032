package graft.queries

import java.nio.file.{Files, Path}
import java.sql.{DriverManager, SQLException}

import scala.util.Using

import org.apache.commons.io.FileUtils
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

/** The one owner of the scratch media that load-and-replay gates
  * stage data in: temp directories and in-memory Derby databases.
  * Each scoped form creates the medium, runs the gate body against
  * it, materializes the body's small read-back frame so the lazy plan
  * can't outlive the medium, and releases the medium in a `finally`
  * that also covers the body's eager steps (commits, JDBC writes).
  * So a gate that throws anywhere leaks nothing per Bench iteration.
  * A release that fails after the body threw is attached to the
  * body's exception as suppressed, never in its place
  * (`scala.util.Using`). The returned frame is a LocalRelation:
  * downstream orderBy/write plans stay valid after the medium is gone.
  */
object Fixtures {

  /** Run `body` in a fresh temp directory named `prefix…`, then
    * delete the directory recursively.
    *
    * `SPARK_GRAFT_AUDIT_INNER=1` prints the INNER plan's
    * shuffle/broadcast/cartesian/codegen counts to stderr before the
    * collect — ExplainAudit sees only the returned LocalRelation for
    * materialized gates, so this is where their real plan shape is
    * observable (dev/judge tooling, not a hot path).
    */
  def scratchDir(prefix: String)(body: Path => DataFrame): DataFrame =
    Using.resource(Files.createTempDirectory(prefix)) { dir =>
      val df = body(dir)
      if (sys.env.contains("SPARK_GRAFT_AUDIT_INNER")) audit(df)
      materialize(df)
    }(dir => FileUtils.deleteDirectory(dir.toFile))

  /** Run `body` against a fresh in-memory Derby database (it gets the
    * `create=true` JDBC URL, unique per call), then DROP the
    * database. Derby signals a successful drop with SQLException
    * 08006, and a database the body never opened cannot be dropped,
    * hence the swallow.
    */
  def derby(name: String)(body: String => DataFrame): DataFrame =
    Using.resource(
        s"jdbc:derby:memory:$name${System.nanoTime()};create=true") {
      url => materialize(body(url))
    } { url =>
      try { DriverManager.getConnection(url.split(";")(0) + ";drop=true"); () }
      catch { case _: SQLException => () }
    }

  /** Stage `frames` as a file stream's input directory `in`: frame i
    * becomes the one file `in/b<i>.parquet`, so a
    * `maxFilesPerTrigger=1` reader takes them as batches in order.
    * Spark writes each frame as a directory (`stage<i>`, beside `in`);
    * only its one part file moves in, under the name that orders it.
    */
  def stageStreamInput(frames: Seq[DataFrame], in: Path): Unit = {
    Files.createDirectories(in)
    frames.zipWithIndex.foreach { case (df, i) =>
      val stage = in.resolveSibling(s"stage$i")
      df.coalesce(1).write.parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, in.resolve(s"b$i.parquet"))
    }
  }

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
