package graft.sources

import graft.SparkSpec

/** Fake-transport tests for the driver-side API source layer:
  * declared-schema parsing and retry. The edge fetch and its
  * license-less fallback are `graft-vco`'s ([[VcoDataSourceSpec]]).
  */
class VcoSourceSpec extends SparkSpec {

  private class ScriptedTransport(
      script: (String, String) => Either[String, Seq[String]])
      extends VcoSource.Transport {
    var calls: List[(String, String)] = Nil
    def call(method: String, params: String): Either[String, Seq[String]] = {
      calls ::= (method, params)
      script(method, params)
    }
  }

  test("enterpriseEvents pushes the interval into request params") {
    val t = new ScriptedTransport((_, _) => Right(Seq(
      """{"eventTime":"2024-01-02T00:00:00.000Z","event":"LINK_DEAD","edgeName":"e","category":"NETWORK"}""")))
    val df = VcoSource.enterpriseEvents(spark, t, 7L,
      "2024-01-01T00:00:00Z", "2024-01-16T00:00:00Z")
    assert(df.count() === 1)
    assert(t.calls.head._2.contains("\"start\":\"2024-01-01T00:00:00Z\""))
  }

  test("enterpriseEvents sends an interval holding quote and backslash as valid JSON") {
    val start = "2024-01-01T00:00:00Z\" \\"
    val t = new ScriptedTransport((_, params) => {
      val interval = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(params).get("interval")
      assert(interval.get("start").asText === start)
      assert(interval.get("end").asText === "2024-01-16T00:00:00Z")
      Right(Seq.empty)
    })
    assert(VcoSource.enterpriseEvents(spark, t, 7L, start,
      "2024-01-16T00:00:00Z").count() === 0)
    assert(t.calls.size === 1)
  }

  test("callWithRetry surfaces the last error after exhausting retries") {
    val t = new ScriptedTransport((_, _) => Left("boom"))
    val res = VcoSource.callWithRetry(t, "m", "{}", retries = 2)
    assert(res === Left("boom"))
    assert(t.calls.length === 3)
  }

  test("systemProperties: full dim with typed nulls (S14)") {
    val t = new ScriptedTransport((m, _) => {
      assert(m === "systemProperty/getSystemProperties")
      Right(Seq(
        """{"name":"product.version","value":"5.2.0.1","isReadOnly":true}""",
        """{"name":"vco.alerts.enable","value":"true"}"""))
    })
    val rows = VcoSource.systemProperties(spark, t)
      .orderBy("name").collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Boolean])))
    assert(rows.toSeq === Seq(
      ("product.version", "5.2.0.1", Some(true)),
      ("vco.alerts.enable", "true", None)))
  }

  test("vcoVersion: product.version value, absent value, failure (S14)") {
    val ok = new ScriptedTransport((m, p) => {
      assert(m === "systemProperty/getSystemProperty")
      assert(p.contains("product.version"))
      Right(Seq("""{"name":"product.version","value":"5.2.0.1"}"""))
    })
    assert(VcoSource.vcoVersion(ok) === Right(Some("5.2.0.1")))
    val noValue = new ScriptedTransport((_, _) =>
      Right(Seq("""{"name":"product.version"}""")))
    assert(VcoSource.vcoVersion(noValue) === Right(None))
    val down = new ScriptedTransport((_, _) => Left("gateway timeout"))
    assert(VcoSource.vcoVersion(down) === Left("gateway timeout"))
  }

  test("vcoVersion reads an escaped quote inside the value") {
    val t = new ScriptedTransport((_, _) =>
      Right(Seq("""{"name":"product.version","value":"5.2 \"beta\""}""")))
    assert(VcoSource.vcoVersion(t) === Right(Some("5.2 \"beta\"")))
  }
}
