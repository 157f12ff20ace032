package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Records every (vco, params) request so the spec can assert the
  * partition fan-out and the pruned with-list.
  */
object RecordedCalls {
  val calls = new ConcurrentLinkedQueue[String]()
}

class FakeFleetTransportFactory extends TransportFactory {
  def create(): VcoSource.Transport = new VcoSource.Transport {
    def call(method: String, params: String): Either[String, Seq[String]] = {
      RecordedCalls.calls.add(params)
      val vco = "\"vco\":\"([^\"]+)\"".r.findFirstMatchIn(params)
        .map(_.group(1)).getOrElse("?")
      Right(Seq(
        s"""{"id":1,"logicalId":"$vco-e1","name":"edge of $vco","edgeState":"CONNECTED","modelNumber":"edge540"}""",
        s"""{"id":2,"logicalId":"$vco-e2","name":"second","edgeState":"OFFLINE"}"""))
    }
  }
}

/** Ids the declared `id BIGINT` cannot hold (a fraction, a string,
  * one past Long.MaxValue) next to one it can.
  */
class HostileIdTransportFactory extends TransportFactory {
  def create(): VcoSource.Transport = new VcoSource.Transport {
    def call(method: String, params: String): Either[String, Seq[String]] =
      Right(Seq("""{"id":5}""", """{"id":1.5}""", """{"id":"0"}""",
        """{"id":9223372036854775808}"""))
  }
}

/** A blank line and a JSON array between two edge objects. */
class NonObjectLinesTransportFactory extends TransportFactory {
  def create(): VcoSource.Transport = new VcoSource.Transport {
    def call(method: String, params: String): Either[String, Seq[String]] =
      Right(Seq("""{"id":1,"logicalId":"a"}""", "", "[1]", """{"id":2}"""))
  }
}

/** Parses its params as JSON (a real server does) and echoes the VCO
  * name back in the edge's `logicalId`.
  */
class ParsingTransportFactory extends TransportFactory {
  def create(): VcoSource.Transport = new VcoSource.Transport {
    def call(method: String, params: String): Either[String, Seq[String]] = {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val vco = om.readTree(params).get("vco").asText()
      Right(Seq(s"""{"id":1,"logicalId":${om.writeValueAsString(vco + "-e1")}}"""))
    }
  }
}

/** A VCO that rejects the `licenses` expansion (any request naming it
  * fails) and a VCO `down` that rejects every request.
  */
class LicenselessTransportFactory extends TransportFactory {
  def create(): VcoSource.Transport = new VcoSource.Transport {
    def call(method: String, params: String): Either[String, Seq[String]] = {
      LicenselessTransportFactory.calls.add(params)
      if (params.contains("\"licenses\""))
        Left("license expansion not supported")
      else if (params.contains("\"vco\":\"down\"")) Left("gateway timeout")
      else Right(Seq("""{"id":2,"logicalId":"e-2","edgeState":"OFFLINE"}"""))
    }
  }
}

object LicenselessTransportFactory {
  val calls = new ConcurrentLinkedQueue[String]()
}

class VcoDataSourceSpec extends SparkSpec {

  private def read = spark.read.format("graft-vco")
    .option("vcos", "vco-a,vco-b,vco-c")
    .option("transport", classOf[FakeFleetTransportFactory].getName)
    .load()

  test("one partition per VCO, rows from every fleet member") {
    RecordedCalls.calls.clear()
    val df = read.select("logicalId", "edgeState")
    assert(df.rdd.getNumPartitions === 3)
    assert(df.count() === 6)
    val ids = df.collect().map(_.getString(0)).sorted
    assert(ids.head === "vco-a-e1" && ids.last === "vco-c-e2")
  }

  test("column pruning reaches the API with-list") {
    RecordedCalls.calls.clear()
    // narrow projection: no expansions referenced
    read.select("logicalId").collect()
    val narrow = RecordedCalls.calls.poll()
    assert(narrow.contains("\"with\":[]"), narrow)

    RecordedCalls.calls.clear()
    // selecting site+recentLinks must request exactly those expansions
    read.select(col("logicalId"), col("site.city"),
      explode_outer(col("recentLinks")).as("l")).collect()
    val wide = RecordedCalls.calls.poll()
    assert(wide.contains("\"site\"") && wide.contains("\"recentLinks\""), wide)
    assert(!wide.contains("\"licenses\""), wide)
  }

  test("filters still apply on top of the scan") {
    val connected = read.filter(col("edgeState") === "CONNECTED").count()
    assert(connected === 3)
  }

  test("enterpriseId/interval predicates push down into call params") {
    RecordedCalls.calls.clear()
    read.select("logicalId")
      .filter(col("enterpriseId") === "ent-1" &&
        col("lastContact") > "2024-01-01T00:00:00.000Z" &&
        col("lastContact") < "2024-02-01T00:00:00.000Z")
      .collect()
    val params = RecordedCalls.calls.poll()
    assert(params.contains("\"enterpriseId\":\"ent-1\""), params)
    assert(params.contains(
      "\"interval\":{\"start\":\"2024-01-01T00:00:00.000Z\"," +
        "\"end\":\"2024-02-01T00:00:00.000Z\"}"), params)
    // non-strict bounds must NOT push (an exclusive-bound server would
    // drop the boundary row and the residual can't resurrect it)
    RecordedCalls.calls.clear()
    read.select("logicalId")
      .filter(col("lastContact") >= "2024-01-01T00:00:00.000Z").collect()
    assert(!RecordedCalls.calls.poll().contains("interval"))
    // pushdown is best-effort: the predicate ALSO applies Spark-side,
    // so rows the fake server returns anyway are still filtered out
    // (fixture rows have null enterpriseId → none survive)
    RecordedCalls.calls.clear()
    val n = read.filter(col("enterpriseId") === "ent-1").count()
    assert(n === 0)
    assert(RecordedCalls.calls.poll().contains("\"enterpriseId\":\"ent-1\""))
  }

  test("COUNT(*) pushes down to the count scan; filtered counts do not") {
    RecordedCalls.calls.clear()
    val agg = read.agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("graft_vco_agg_pushdown"),
      s"count must plan the pushed scan:\n${plan.take(1200)}")
    assert(agg.collect()(0).getLong(0) === 6L) // 3 VCOs × 2 edges
    // the count request carries an EMPTY with-list — no payload shipped
    val calls = Iterator.continually(RecordedCalls.calls.poll())
      .takeWhile(_ != null).toSeq
    assert(calls.nonEmpty && calls.forall(_.contains("\"with\":[]")), calls)
    // a residual-filtered count must stay on the ROW scan (Catalyst
    // only pushes aggregates when no post-scan filter remains)
    val filtered = read.filter(col("edgeState") === "CONNECTED")
      .agg(count(lit(1)).as("n"))
    val fPlan = filtered.queryExecution.executedPlan.toString
    assert(!fPlan.contains("graft_vco_agg_pushdown"))
    assert(filtered.collect()(0).getLong(0) === 3L)
  }

  test("empty-fleet count stays on the row scan and returns 0") {
    // zero count-partitions would make the final Sum-of-partials NULL
    // where COUNT(*) over zero rows must be 0 — the builder refuses
    // the pushdown instead
    val df = spark.read.format("graft-vco").option("vcos", "")
      .option("transport", classOf[FakeFleetTransportFactory].getName)
      .load().agg(count(lit(1)).as("n"))
    assert(!df.queryExecution.executedPlan.toString
      .contains("graft_vco_agg_pushdown"))
    assert(df.collect()(0).getLong(0) === 0L)
  }

  test("MIN/MAX(id) push with COUNT in one agg scan; other columns do not") {
    RecordedCalls.calls.clear()
    val agg = read.agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("graft_vco_agg_pushdown"),
      s"min/max must plan the pushed scan:\n${plan.take(1200)}")
    val row = agg.collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ===
      ((6L, 1L, 2L)))
    // partial rows came from no-expansion requests
    val calls = Iterator.continually(RecordedCalls.calls.poll())
      .takeWhile(_ != null).toSeq
    assert(calls.nonEmpty && calls.forall(_.contains("\"with\":[]")), calls)
    // a non-id min is not a shape the source answers → row scan
    val other = read.agg(min(col("logicalId")).as("mn"))
    assert(!other.queryExecution.executedPlan.toString
      .contains("graft_vco_agg_pushdown"))
    assert(other.collect()(0).getString(0) === "vco-a-e1")
  }

  private def drain(q: ConcurrentLinkedQueue[String]): Seq[String] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq

  private def fleet(vcos: String, factory: Class[_]) =
    spark.read.format("graft-vco").option("vcos", vcos)
      .option("transport", factory.getName).load()

  test("pushed MIN/MAX(id) equals the row scan's over hostile ids") {
    val df = fleet("vco-h1,vco-h2", classOf[HostileIdTransportFactory])
    val pushed = df.agg(count(lit(1)), min(col("id")), max(col("id")))
    assert(pushed.queryExecution.executedPlan.toString
      .contains("graft_vco_agg_pushdown"))
    val rows = df.select("id")
    val truth = spark.createDataFrame(
        java.util.Arrays.asList(rows.collect(): _*), rows.schema)
      .agg(count(lit(1)), min(col("id")), max(col("id")))
    assert(pushed.collect().toSeq === truth.collect().toSeq)
  }

  test("a blank or non-object line reads as a row of nulls, counted alike") {
    val df = fleet("vco-n", classOf[NonObjectLinesTransportFactory])
    val rows = df.select("id", "logicalId").collect()
      .map(r => (Option(r.get(0)), Option(r.getString(1)))).toSeq
    assert(rows.sortBy(_.toString) === Seq((None, None), (None, None),
      (Some(1L), Some("a")), (Some(2L), None)).sortBy(_.toString))
    val pushed = df.agg(count(lit(1)), min(col("id")), max(col("id")))
    assert(pushed.queryExecution.executedPlan.toString
      .contains("graft_vco_agg_pushdown"))
    assert(pushed.collect().toSeq.map(_.toSeq) === Seq(Seq(4L, 1L, 2L)))
  }

  test("a VCO name that needs escaping reaches the server as valid JSON") {
    val got = fleet("a\"b", classOf[ParsingTransportFactory])
      .select("logicalId").collect().map(_.getString(0))
    assert(got.toSeq === Seq("a\"b-e1"))
  }

  test("full projection succeeds, schema fills nulls") {
    RecordedCalls.calls.clear()
    val rows = fleet("vco-a", classOf[FakeFleetTransportFactory]).collect()
    val row = rows.find(_.getAs[String]("logicalId") == "vco-a-e2").get
    assert(row.getAs[String]("modelNumber") === null) // missing key = typed null
    val calls = drain(RecordedCalls.calls)
    assert(calls.length === 1)
    assert(calls.head.contains("\"licenses\""))
  }

  test("license fetch failure falls back without licenses") {
    LicenselessTransportFactory.calls.clear()
    val row = fleet("vco-l", classOf[LicenselessTransportFactory])
      .collect().head
    assert(row.getAs[String]("logicalId") === "e-2")
    assert(row.getAs[String]("name") === null) // missing key = typed null
    assert(row.getAs[AnyRef]("licenses") === null)
    val calls = drain(LicenselessTransportFactory.calls)
    // 3 failing full attempts (1 + 2 retries), then degraded succeeds
    assert(calls.count(_.contains("\"licenses\"")) === 3)
    assert(calls.length === 4)
    assert(calls.last.contains("recentLinks")) // degraded keeps the rest
  }

  test("a failing scan that never asked for licenses does not fall back") {
    LicenselessTransportFactory.calls.clear()
    val e = intercept[Exception] {
      fleet("down", classOf[LicenselessTransportFactory])
        .select("logicalId").collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(messages.contains("VCO down"), messages)
    val calls = drain(LicenselessTransportFactory.calls)
    assert(calls.length === 3 && calls.forall(_.contains("\"with\":[]")), calls)
  }
}
