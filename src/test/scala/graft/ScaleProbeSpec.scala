package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** ScaleProbe's copy step: N copies of every table that keep each
  * copy's joins inside the copy, leave copy 0 as the source and keep
  * every column's type — so any registered query runs unchanged.
  */
class ScaleProbeSpec extends SparkSpec {
  private val src = "/root/testdata/sf0.001"
  private val root = Files.createTempDirectory("graft_scaleprobe_spec")
  // written on first use, so a filtered run that selects no case
  // writes nothing
  private lazy val dir = {
    ScaleProbe.writeCopies(spark, src, 2, root)
    root.toString
  }

  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(root.toFile) finally super.afterAll()

  private def both(name: String): (DataFrame, DataFrame) =
    (Tables.load(spark, src, name), Tables.load(spark, dir, name))

  private def copy0(df: DataFrame): DataFrame =
    ScaleProbe.keyColumns(df.schema).map(k => col(k) < ScaleProbe.Offset)
      .reduceOption(_ && _).fold(df)(df.filter)

  test("×2 doubles every keyed table; region and nation stay one copy") {
    for (name <- Tables.names) {
      val (s, x) = both(name)
      val factor = if (Set("region", "nation")(name)) 1 else 2
      assert(x.count() === factor * s.count(), name)
    }
  }

  test("every key stays unique; no key value crosses copies") {
    // lineitem's (l_orderkey, l_linenumber) repeats in the generated
    // data, so it is held to "each copy's distinct keys are new"
    val keys = Seq("region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey", "l_linenumber"),
      "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    for ((name, key) <- keys) {
      val (s, x) = both(name)
      def distinct(df: DataFrame) = df.select(key.map(col): _*).distinct().count()
      if (name != "lineitem") assert(distinct(x) === x.count(), name)
      assert(distinct(x) === x.count() / s.count() * distinct(s), name)
    }
  }

  test("foreign-key joins match exactly twice as often") {
    def matches(d: String): (Long, Long) = {
      val (o, l, p) = (Tables.orders(spark, d), Tables.lineitem(spark, d),
        Tables.part(spark, d))
      (o.join(l, col("o_orderkey") === col("l_orderkey")).count(),
        l.join(p, col("l_partkey") === col("p_partkey")).count())
    }
    val (ol, lp) = matches(src)
    assert(ol > 0 && lp > 0)
    assert(matches(dir) === ((2 * ol, 2 * lp)))
  }

  test("copy 0 is the source, row for row") {
    for (name <- Tables.names) {
      val (s, x) = both(name)
      val c0 = copy0(x)
      assert(c0.exceptAll(s).isEmpty && s.exceptAll(c0).isEmpty, name)
    }
  }

  test("copy 1's document tokens are disjoint from copy 0's") {
    val docs = Tables.documents(spark, dir)
    def tokens(copy: Column): DataFrame =
      docs.filter(copy)
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0).distinct()
    val (t0, t1) = (tokens(col("doc_id") < ScaleProbe.Offset),
      tokens(col("doc_id") >= ScaleProbe.Offset))
    assert(t0.count() > 0 && t1.count() === t0.count())
    assert(t0.intersect(t1).isEmpty)
  }

  test("every column keeps its source type") {
    for (name <- Tables.names) {
      val (s, x) = both(name)
      assert(x.schema.map(f => f.name -> f.dataType) ===
        s.schema.map(f => f.name -> f.dataType), name)
    }
  }

  test("a registered query runs over the scaled directory") {
    val q = SparkEntry.queries("q47_edge_gold")
    val n = q(spark, src).count()
    assert(n > 0 && q(spark, dir).count() === 2 * n)
  }

  test("every table streams all of its copies, file or directory") {
    def streamed(d: String, name: String): Long = graft.streaming.Streams
      .runToTable(Tables.stream(spark, d, name), OutputMode.Append()).count()
    for (name <- Tables.names) {
      val factor = if (Set("region", "nation")(name)) 1 else 2
      val n = streamed(src, name)
      assert(n > 0 && streamed(dir, name) === factor * n, name)
    }
  }

  test("a registered streaming query reads every copy") {
    val q = SparkEntry.queries("q328_stream_extract")
    val n = q(spark, src).count()
    assert(n > 0 && q(spark, dir).count() === 2 * n)
  }
}
