package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. One session per JVM
  * (scalatest forks once); small shuffle partition count keeps unit
  * tests fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  // Touch the lazy val so sessions exist before tests run.
  override def beforeAll(): Unit = { spark; super.beforeAll() }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // same extension wiring as Sessions.localBuilder, so specs see
      // the production optimizer rules and SQL functions
      .withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Expression nodes of `df`'s analysed plan, summed over every
    * operator. A Column builder that copies a subterm per use shows
    * up here long before it shows up as run time.
    */
  def analyzedExprNodes(df: DataFrame): Int =
    df.queryExecution.analyzed
      .collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }
      .sum
}
