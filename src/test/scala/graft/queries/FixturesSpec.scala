package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Fixtures release their medium whether or not the read-back
  * succeeds: a failing gate must not leak a temp directory or a live
  * in-memory database per Bench iteration.
  */
class FixturesSpec extends SparkSpec {

  private def failing =
    spark.range(3).select(raise_error(lit("read-back failed")).as("x"))

  test("materializeAndDelete removes the directory when the collect throws") {
    val dir = Files.createTempDirectory("graft_fixture")
    Files.writeString(dir.resolve("part-0"), "staged")
    intercept[Exception](Fixtures.materializeAndDelete(failing, dir))
    assert(!Files.exists(dir))
  }

  test("materializeAndDrop drops the database when the collect throws") {
    val db = "jdbc:derby:memory:graft_fixture_drop"
    java.sql.DriverManager.getConnection(s"$db;create=true").close()
    intercept[Exception](Fixtures.materializeAndDrop(failing, s"$db;create=true"))
    // without create=true, connecting to a dropped database fails
    intercept[java.sql.SQLException](java.sql.DriverManager.getConnection(db))
  }
}
