package graft.queries

import java.nio.file.{Files, Path}
import java.sql.{DriverManager, SQLException}

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Fixtures release their medium whether or not the gate body
  * succeeds: a failing gate must not leak a temp directory or a live
  * in-memory database per Bench iteration — neither when the final
  * read-back throws nor when an eager step before it does.
  */
class FixturesSpec extends SparkSpec {

  private def failing =
    spark.range(3).select(raise_error(lit("read-back failed")).as("x"))

  /** The Derby URL without `create=true`: connecting to it fails once
    * the database is dropped.
    */
  private def existing(url: String) = url.split(";")(0)

  test("scratchDir removes the directory when the collect throws") {
    var dir: Path = null
    intercept[Exception](Fixtures.scratchDir("graft_fixture") { d =>
      dir = d
      Files.writeString(dir.resolve("part-0"), "staged")
      failing
    })
    assert(!Files.exists(dir))
  }

  test("scratchDir removes the directory when an eager step throws") {
    var dir: Path = null
    val e = intercept[IllegalStateException](
      Fixtures.scratchDir("graft_fixture") { d =>
        dir = d
        Files.writeString(dir.resolve("part-0"), "staged")
        throw new IllegalStateException("commit failed")
      })
    assert(e.getMessage == "commit failed")
    assert(!Files.exists(dir))
  }

  test("derby drops the database when the collect throws") {
    var url: String = null
    intercept[Exception](Fixtures.derby("graft_fixture_drop") { u =>
      url = u
      DriverManager.getConnection(url).close()
      failing
    })
    // without create=true, connecting to a dropped database fails
    intercept[SQLException](DriverManager.getConnection(existing(url)))
  }

  test("derby drops the database when an eager step throws") {
    var url: String = null
    val e = intercept[IllegalStateException](
      Fixtures.derby("graft_fixture_eager") { u =>
        url = u
        val conn = DriverManager.getConnection(url)
        try {
          conn.createStatement().executeUpdate("CREATE TABLE t (k INT)")
          conn.createStatement().executeUpdate("INSERT INTO t VALUES (1)")
        } finally conn.close()
        throw new IllegalStateException("upsert failed")
      })
    assert(e.getMessage == "upsert failed")
    intercept[SQLException](DriverManager.getConnection(existing(url)))
  }

  test("stageStreamInput writes frame i as the one file b<i>.parquet") {
    val frames = Seq(spark.range(0, 5).toDF("id"),
      spark.range(5, 7).toDF("id"), spark.range(7, 10).toDF("id"))
    val staged = Fixtures.scratchDir("graft_fixture") { d =>
      val in = d.resolve("in")
      Fixtures.stageStreamInput(frames, in)
      assert(in.toFile.list().sorted.toSeq ==
        Seq("b0.parquet", "b1.parquet", "b2.parquet"))
      frames.indices.map { i =>
        spark.read.parquet(in.resolve(s"b$i.parquet").toString)
          .select(lit(i).as("batch"), col("id"))
      }.reduce(_ union _)
    }
    assert(staged.collect().map(r => (r.getInt(0), r.getLong(1))).sorted
      .toSeq == (0L until 10L).map(id =>
        (if (id < 5) 0 else if (id < 7) 1 else 2, id)))
  }
}
