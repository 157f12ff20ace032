package graft.sources

import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.model.Schemas

/** S1–S17: the JSON-RPC API source layer, restated Spark-first.
  *
  * The reference drives a JSON-RPC 2.0 endpoint per VCO
  * (`VCOClient.py:75-98`) from a 10-thread pool; each endpoint call
  * names a method, a params dict, and a `with:[…]` expansion list —
  * which is server-side PROJECTION PUSHDOWN (`powerbi_main_fun.py:
  * 181-185`) — plus interval params, which are PREDICATE pushdown
  * (`465-481`).
  *
  * Spark restatement: the edge fetch (S1/S3) is the `graft-vco`
  * DataSource V2 reader ([[VcoDataSource]], one partition per VCO);
  * the small endpoints below fetch driver-side. Either way the payload
  * lands as JSON lines parsed with a DECLARED schema so the frame is
  * columnar immediately and Catalyst prunes from there.
  * The transport is an interface: tests and offline runs inject fakes
  * (the reference's own UnitTests covered exactly this layer,
  * `requirements.txt:43`).
  */
object VcoSource {

  /** Minimal JSON-RPC transport: returns the `result` array as JSON
    * lines, or an error. Implementations own auth + timeouts.
    */
  trait Transport extends Serializable {
    def call(method: String, paramsJson: String): Either[String, Seq[String]]
  }

  /** Retrying call wrapper (`vco_calls.py:51-73` timeout/retry
    * discipline): linear retries, last error surfaces.
    */
  def callWithRetry(t: Transport, method: String, params: String,
      retries: Int = 2): Either[String, Seq[String]] = {
    var last: Either[String, Seq[String]] = Left("no attempt")
    var i = 0
    while (i <= retries) {
      last = t.call(method, params)
      if (last.isRight) return last
      i += 1
    }
    last
  }

  /** The one driver-side fetch: `method` with retries, the result
    * lines parsed with the DECLARED `schema` (missing key = typed
    * null).
    */
  private def fetch(spark: SparkSession, t: Transport, method: String,
      params: String, schema: StructType): DataFrame =
    callWithRetry(t, method, params) match {
      case Right(lines) =>
        import spark.implicits._
        spark.read.schema(schema).json(lines.toDS())
      case Left(err) => throw new RuntimeException(s"$method $params: $err")
    }

  /** S2 `getNetworkEnterprises` (tenant enumeration). */
  def networkEnterprises(spark: SparkSession, t: Transport): DataFrame =
    fetch(spark, t, "network/getNetworkEnterprises",
      """{"with":["edgeCount"]}""",
      StructType.fromDDL("id BIGINT, logicalId STRING, name STRING, created STRING"))

  /** S14 `getSystemProperties` (`Functions/vco_calls.py:129-137`):
    * the full property list as a (name, value, isReadOnly) frame —
    * a tiny dim, broadcast-joined where consumed.
    */
  def systemProperties(spark: SparkSession, t: Transport): DataFrame =
    fetch(spark, t, "systemProperty/getSystemProperties", "{}",
      StructType.fromDDL("name STRING, value STRING, isReadOnly BOOLEAN"))

  private lazy val mapper = new ObjectMapper()

  /** S14 `get_vco_version` (`Functions/vco_calls.py:117-126`): the
    * `product.version` system property's `value` — a driver-side
    * scalar (the reference upserts it as the VCO's software_version
    * attribute, `powerbi_main_fun.py:106-112`). Absent or non-string
    * value ⇒ None, transport failure or an unparseable reply ⇒ Left,
    * exactly the reference's (data, msg) pair.
    */
  def vcoVersion(t: Transport): Either[String, Option[String]] =
    callWithRetry(t, "systemProperty/getSystemProperty",
        """{"name":"product.version"}""")
      .flatMap(lines => Try(lines.headOption.flatMap(line =>
          Option(mapper.readTree(line).get("value"))
            .filter(_.isTextual).map(_.asText))).toEither
        .left.map(e => s"product.version: ${e.getMessage}"))

  /** S7 `getEnterpriseEvents` with interval predicate pushdown: the
    * interval lands in the request params — rows outside it are never
    * fetched (the API-source analog of `PushedFilters`). Both bounds
    * render as escaped JSON strings.
    */
  def enterpriseEvents(spark: SparkSession, t: Transport, enterpriseId: Long,
      startIso: String, endIso: String): DataFrame =
    fetch(spark, t, "event/getEnterpriseEvents",
      s"""{"enterpriseId":$enterpriseId,"interval":{"start":""" +
        s"""${VcoScan.json(startIso)},"end":${VcoScan.json(endIso)}}}""",
      StructType.fromDDL(
        "eventTime STRING, event STRING, edgeName STRING, category STRING"))

  /** S11 `getEnterpriseRouteTable` (`powerbi_main_fun.py:383-391`):
    * per-enterprise route-table documents parsed with the declared
    * [[Schemas.routesDoc]]. The enterprise scoping lands in the
    * request params — the same server-side pushdown discipline as the
    * S7 event interval.
    */
  def enterpriseRoutes(spark: SparkSession, t: Transport,
      enterpriseId: Long): DataFrame =
    fetch(spark, t, "enterprise/getEnterpriseRouteTable",
      s"""{"enterpriseId":$enterpriseId}""", Schemas.routesDoc)
}
