package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.{GeoEnrichment, TransportFactory, VcoSource, YamlConfig}

/** In-JVM scripted fleet: the "server" payloads the q64 scan reads.
  *
  * The gate needs the DSv2 connector to produce rows whose ground
  * truth DuckDB can recompute, so the fixture server's payloads are
  * DERIVED from the customer parquet — the query function publishes
  * them here, then reads them back through the full connector path
  * (partition-per-VCO planning, executor-side transport construction,
  * JSON→InternalRow parse, column pruning, residual filters).
  *
  * A static holder works because tests and the driver run local[*]
  * (executors share the JVM); a cluster integration test would serve
  * the same payloads over [[graft.sources.HttpTransport]] instead.
  *
  * Lifetime: each q64 invocation REPLACES the map (the previous run's
  * payloads become garbage), so at most one rendered fleet (~2 MB at
  * sf0.1) stays resident; scans read the field at task-execution
  * time, so a retained q64 frame re-executed after a later assignment
  * reads the LATER payloads — re-run the query function instead of
  * caching its frame across fixture swaps.
  */
object ScriptedFleet {
  @volatile var byVco: Map[String, Seq[String]] = Map.empty
}

/** Zero-arg-constructible factory (the connector instantiates it by
  * name on the executor — transports own sockets and never serialize).
  */
class ScriptedFleetTransportFactory extends TransportFactory {
  def create(): VcoSource.Transport = new VcoSource.Transport {
    def call(method: String, paramsJson: String): Either[String, Seq[String]] = {
      val vco = "\"vco\":\"([^\"]+)\"".r.findFirstMatchIn(paramsJson)
        .map(_.group(1)).getOrElse("")
      ScriptedFleet.byVco.get(vco).toRight(s"unknown vco '$vco'")
    }
  }
}

/** Deterministic geocoder: resolves the formula the q66 oracle
  * recomputes. lat/lon arrive as exact quarter-integers by
  * construction, so `math.round` recovers the integers losslessly.
  */
object FormulaGeoClient extends GeoEnrichment.GeoClient {
  def reverse(lat: Double, lon: Double): Option[GeoEnrichment.GeoResult] = {
    val a = math.round(lat * 4)
    val b = math.round(lon * 4)
    Some(GeoEnrichment.GeoResult(s"city-$a-$b", s"country-${a % 5}", s"p$b"))
  }
}

/** q64/q66: the external-source operators under the ORACLE gate — the
  * DSv2 JSON-RPC connector (S1/S3 mechanics) and the throttled
  * geo-enrichment dimension build (S20/J4). Both run their REAL code
  * paths end-to-end; only the remote endpoint is a deterministic
  * in-process stand-in, which is exactly what makes a SQL oracle
  * possible.
  */
object SourceQueries extends QueryPack {

  def defs: Map[String, Q] = Map(
    // DSv2 AGGREGATE pushdown: COUNT(*) over the fleet never ships
    // edge payloads — each VCO partition returns one pre-counted row
    // (empty with-list; the reference's with:[edgeCount] hint done by
    // the optimizer) and Spark sums the partials. The fixture is the
    // q64 fleet; the oracle is the relational truth it was rendered
    // from. VcoDataSourceSpec asserts the count scan (not the row
    // scan) actually planned.
    "q158_vco_count_pushdown" -> Q(
      (s, dir) => {
        import s.implicits._
        val payloads = Tables.customer(s, dir).select(
            concat(lit("vco-"), col("c_custkey") % 4).as("vco"),
            to_json(struct(col("c_custkey").as("id"))).as("doc"))
          .as[(String, String)].collect() // fixture-server dataset
        ScriptedFleet.byVco =
          payloads.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
        s.read.format("graft-vco")
          .option("vcos", ScriptedFleet.byVco.keys.toSeq.sorted.mkString(","))
          .option("transport", classOf[ScriptedFleetTransportFactory].getName)
          .load()
          .agg(count(lit(1)).as("n_edges"))
      },
      Some("SELECT count(*) AS n_edges FROM customer")),

    // DSv2 MIN/MAX + COUNT pushdown in ONE aggregation: the scan
    // returns one (count, min_id, max_id) partial row per VCO from a
    // no-expansion request and Spark merges the partials — the
    // "id-range probe" an incremental ingester runs before deciding
    // what to fetch, without ever shipping edge payloads.
    // VcoDataSourceSpec pins that the AGG scan (not the row scan)
    // planned and that a retried partition cannot double-count.
    "q260_vco_minmax_pushdown" -> Q(
      (s, dir) => {
        import s.implicits._
        val payloads = Tables.customer(s, dir).select(
            concat(lit("vco-"), col("c_custkey") % 4).as("vco"),
            to_json(struct(col("c_custkey").as("id"))).as("doc"))
          .as[(String, String)].collect() // fixture-server dataset
        ScriptedFleet.byVco =
          payloads.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
        s.read.format("graft-vco")
          .option("vcos", ScriptedFleet.byVco.keys.toSeq.sorted.mkString(","))
          .option("transport", classOf[ScriptedFleetTransportFactory].getName)
          .load()
          .agg(count(lit(1)).as("n_edges"), min(col("id")).as("min_id"),
            max(col("id")).as("max_id"))
      },
      Some("""SELECT count(*) AS n_edges, min(c_custkey) AS min_id,
        |  max(c_custkey) AS max_id
        |FROM customer""".stripMargin)),

    // S1/S3 + DSv2 pruning/residual filters: customer rows → edge-doc
    // JSON payloads on a 4-VCO scripted fleet → full connector scan →
    // must equal the relational truth. The edgeState filter is
    // residual-only (not a pushable shape); pruning narrows the parse
    // schema to the six selected fields.
    "q64_vco_scan" -> Q(
      (s, dir) => {
        import s.implicits._
        val payloads = Tables.customer(s, dir).select(
            concat(lit("vco-"), col("c_custkey") % 4).as("vco"),
            to_json(struct(
              col("c_custkey").as("id"),
              concat(lit("edge-"), col("c_custkey")).as("logicalId"),
              concat(lit("ent-"), col("c_nationkey")).as("enterpriseId"),
              col("c_name").as("name"),
              when(col("c_acctbal") < 0, "OFFLINE").otherwise("CONNECTED")
                .as("edgeState"),
              col("c_mktsegment").as("modelNumber"))).as("doc"))
          .as[(String, String)].collect() // fixture-server dataset, not a query-path collect
        ScriptedFleet.byVco =
          payloads.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
        s.read.format("graft-vco")
          .option("vcos", ScriptedFleet.byVco.keys.toSeq.sorted.mkString(","))
          .option("transport", classOf[ScriptedFleetTransportFactory].getName)
          .load()
          .filter(col("edgeState") === "CONNECTED")
          .select(col("id"), col("logicalId"), col("enterpriseId"),
            col("name"), col("edgeState"), col("modelNumber"))
          .orderBy(col("id"))
      },
      Some("""SELECT c_custkey AS id, 'edge-'||c_custkey AS logicalId,
        |  'ent-'||c_nationkey AS enterpriseId, c_name AS name,
        |  'CONNECTED' AS edgeState, c_mktsegment AS modelNumber
        |FROM customer
        |WHERE c_acctbal >= 0
        |ORDER BY id""".stripMargin)),

    // S20/J4: distinct→resolve(throttled, cached)→broadcast-join-back.
    // Coordinates are exact quarter-integers so the precision-4
    // rounding is an identity and the formula client's strings are
    // reproducible in SQL from the source columns alone.
    "q66_geo_enrich" -> Q(
      (s, dir) => GeoEnrichment.enrich(
          Tables.customer(s, dir).select(col("c_custkey"),
            (col("c_nationkey") / lit(4.0d)).as("latr"),
            ((col("c_custkey") % 100) / lit(4.0d)).as("lonr")),
          "latr", "lonr", () => FormulaGeoClient,
          maxCallsPerSecond = 1000000000)
        .select(col("c_custkey"), col("geo_city"), col("geo_country"),
          col("geo_postal"))
        .orderBy(col("c_custkey")),
      Some("""SELECT c_custkey,
        |  'city-'||c_nationkey||'-'||(c_custkey % 100) AS geo_city,
        |  'country-'||(c_nationkey % 5) AS geo_country,
        |  'p'||(c_custkey % 100) AS geo_postal
        |FROM customer
        |ORDER BY c_custkey""".stripMargin)),

    // S7: the events endpoint's INTERVAL pushdown is real server-side
    // filtering — the fixture transport serves ONLY rows inside the
    // interval it parses from the request params, so a green hash
    // proves the params carried the predicate (eventTime is the
    // epoch-ms string; ISO rendering is presentation, not semantics).
    // [start, end) half-open, matching the reference's slice fetch.
    "q67_vco_events" -> Q(
      (s, dir) => {
        import s.implicits._
        val startMs = 1704844800000L // 2024-01-10
        val endMs = 1705449600000L   // 2024-01-17
        val lines = Tables.events(s, dir)
          .filter(col("user_id") % 5 === 3)
          .select(expr("unix_millis(ts)").as("ms"),
            to_json(struct(
              expr("cast(unix_millis(ts) as string)").as("eventTime"),
              col("event_type").as("event"),
              concat(lit("edge-"), col("user_id")).as("edgeName"),
              concat(lit("cat-"), col("user_id") % 7).as("category")))
              .as("doc"))
          .as[(Long, String)].collect() // fixture-server dataset
        val t = new VcoSource.Transport {
          def call(method: String, params: String): Either[String, Seq[String]] = {
            def bound(k: String) = (s""""$k":"(\\d+)"""").r
              .findFirstMatchIn(params).map(_.group(1).toLong)
            (bound("start"), bound("end")) match {
              case (Some(a), Some(b)) =>
                Right(lines.collect { case (ms, doc) if ms >= a && ms < b => doc }.toSeq)
              case _ => Left("missing interval")
            }
          }
        }
        VcoSource.enterpriseEvents(s, t, 3, startMs.toString, endMs.toString)
          .orderBy(col("eventTime"), col("edgeName"), col("event"),
            col("category"))
      },
      Some("""SELECT CAST(epoch_ms(ts) AS VARCHAR) AS eventTime,
        |  event_type AS event, 'edge-'||user_id AS edgeName,
        |  'cat-'||(user_id % 7) AS category
        |FROM events
        |WHERE user_id % 5 = 3
        |  AND epoch_ms(ts) >= 1704844800000 AND epoch_ms(ts) < 1705449600000
        |ORDER BY eventTime, edgeName, event, category""".stripMargin)),

    // S2: tenant enumeration through the retrying driver-side call.
    "q68_vco_enterprises" -> Q(
      (s, dir) => {
        import s.implicits._
        val lines = Tables.nation(s, dir).select(
            to_json(struct(
              col("n_nationkey").cast("long").as("id"),
              concat(lit("ent-"), col("n_nationkey")).as("logicalId"),
              col("n_name").as("name"),
              lit("2024-01-01T00:00:00Z").as("created"))).as("doc"))
          .as[String].collect()
        val t = new VcoSource.Transport {
          def call(method: String, params: String): Either[String, Seq[String]] =
            if (method == "network/getNetworkEnterprises") Right(lines.toSeq)
            else Left(s"unexpected method $method")
        }
        VcoSource.networkEnterprises(s, t).orderBy(col("id"))
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  'ent-'||n_nationkey AS logicalId, n_name AS name,
        |  '2024-01-01T00:00:00Z' AS created
        |FROM nation
        |ORDER BY id""".stripMargin)),

    // S14: the system-properties dim through its dedicated reader.
    "q69_system_properties" -> Q(
      (s, dir) => {
        import s.implicits._
        val lines = Tables.region(s, dir).select(
            to_json(struct(
              concat(lit("prop."), col("r_name")).as("name"),
              col("r_regionkey").cast("string").as("value"),
              (col("r_regionkey") % 2 === 0).as("isReadOnly"))).as("doc"))
          .as[String].collect()
        val t = new VcoSource.Transport {
          def call(method: String, params: String): Either[String, Seq[String]] =
            if (method == "systemProperty/getSystemProperties") Right(lines.toSeq)
            else Left(s"unexpected method $method")
        }
        VcoSource.systemProperties(s, t).orderBy(col("name"))
      },
      Some("""SELECT 'prop.'||r_name AS name,
        |  CAST(r_regionkey AS VARCHAR) AS value,
        |  r_regionkey % 2 = 0 AS isReadOnly
        |FROM region
        |ORDER BY name""".stripMargin)),

    // S1 LIVE WIRE: the production HTTP JSON-RPC transport against an
    // in-process JDK HttpServer serving part-derived payloads. The
    // handler REJECTS any request whose envelope or Authorization
    // header is malformed (error body → Left → the query fails), so a
    // green hash proves the wire format end-to-end: POST /portal/,
    // JSON-RPC 2.0 envelope, Token auth, result-array → line decode.
    "q76_http_transport" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.part(s, dir).select(
            to_json(struct(
              col("p_partkey").as("id"),
              concat(lit("p-"), col("p_partkey")).as("logicalId"),
              col("p_name").as("name"),
              col("p_brand").as("created"))).as("doc"))
          .as[String].collect() // fixture-server dataset
        val body = docs.mkString(
          """{"jsonrpc":"2.0","id":1,"result":[""", ",", "]}")
        val server = com.sun.net.httpserver.HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        try {
          server.createContext("/portal/",
            new com.sun.net.httpserver.HttpHandler {
              def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
                val req = new String(x.getRequestBody.readAllBytes(),
                  java.nio.charset.StandardCharsets.UTF_8)
                val authOk = x.getRequestHeaders.getFirst("Authorization") ==
                  "Token tok-123"
                val envOk = req.contains("\"jsonrpc\":\"2.0\"") &&
                  req.contains("\"method\":\"network/getNetworkEnterprises\"")
                val resp =
                  if (authOk && envOk) body
                  else """{"error":{"message":"bad envelope or auth"}}"""
                val bytes = resp.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                x.sendResponseHeaders(200, bytes.length)
                x.getResponseBody.write(bytes)
                x.close()
              }
            })
          server.start()
          val port = server.getAddress.getPort
          // transport call happens EAGERLY inside networkEnterprises
          // (lines land in a local Seq), so the server can stop after
          VcoSource.networkEnterprises(s,
              new graft.sources.HttpTransport(s"http://127.0.0.1:$port",
                "tok-123"))
            .orderBy(col("id"))
        } finally server.stop(0)
      },
      Some("""SELECT p_partkey AS id, 'p-'||p_partkey AS logicalId,
        |  p_name AS name, p_brand AS created
        |FROM part
        |ORDER BY id""".stripMargin)),

    // S11 + A7 end-to-end: route-table payloads (nested subnets with
    // preferredExits and learnedRoute) are rendered from customer
    // rows, served by a scripted transport that returns ONLY the
    // requested enterprise's slice (params routing, the q67 proof
    // shape), parsed through VcoSource.enterpriseRoutes' declared
    // schema, and aggregated by the real Routes math. The oracle
    // recomputes route_num/route_change from the generator arithmetic
    // via generate_series. Branch coverage: preferredExits type cycles
    // DIRECT/absent/GATEWAY (absent counts as non-DIRECT — Python's
    // `None != "DIRECT"`); learnedRoute cycles absent/recent/stale.
    "q94_routes_payload" -> Q(
      (s, dir) => {
        import s.implicits._
        val ck = col("c_custkey")
        val docs = Tables.customer(s, dir)
          .filter(ck % 10 === 0)
          .select(((ck / 10).cast("long") % 4).as("ent"),
            to_json(struct(
              ck.as("enterpriseId"),
              transform(sequence(lit(1L), lit(1L) + ck % 3), i =>
                struct(
                  array().cast("array<struct<type:string>>").as("eligableExits"),
                  transform(sequence(lit(1L), lit(1L) + (ck + i) % 2), j =>
                    struct(
                      when((ck + i + j) % 4 === 0, lit("DIRECT"))
                        .when((ck + i + j) % 4 === 2, lit("GATEWAY"))
                        .when((ck + i + j) % 4 === 3, lit("GATEWAY"))
                        .as("type"))).as("preferredExits"),
                  when((ck + i) % 3 === 1,
                      struct(lit("2024-01-14T23:00:00Z").as("modified")))
                    .when((ck + i) % 3 === 2,
                      struct(lit("2024-01-13T12:00:00Z").as("modified")))
                    .as("learnedRoute"))).as("subnets")))
              .as("doc"))
          .as[(Long, String)].collect() // fixture-server dataset
        val byEnt = docs.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
        val t = new VcoSource.Transport {
          def call(method: String, params: String): Either[String, Seq[String]] =
            if (method != "enterprise/getEnterpriseRouteTable")
              Left(s"unexpected method $method")
            else """"enterpriseId":(\d+)""".r.findFirstMatchIn(params)
              .map(_.group(1).toLong).toRight("missing enterpriseId")
              .map(e => byEnt.getOrElse(e, Seq.empty))
        }
        val now = lit("2024-01-15T00:00:00").cast("timestamp")
        (0L to 3L).map(e => VcoSource.enterpriseRoutes(s, t, e))
          .reduce(_.unionAll(_))
          .select(col("enterpriseId"),
            graft.operators.Routes.routeNum(col("subnets"))
              .cast("long").as("route_num"),
            graft.operators.Routes.routeChange(col("subnets"), now)
              .cast("long").as("route_change"))
          .orderBy(col("enterpriseId"))
      },
      Some("""WITH e AS (
        |  SELECT c_custkey AS ck FROM customer WHERE c_custkey % 10 = 0),
        |s AS (
        |  SELECT ck, unnest(generate_series(1, CAST(1 + ck % 3 AS INT))) AS i
        |  FROM e),
        |p AS (
        |  SELECT ck, i, unnest(generate_series(1, CAST(1 + (ck + i) % 2 AS INT))) AS j
        |  FROM s),
        |rn AS (
        |  SELECT ck, count(*) FILTER (WHERE (ck + i + j) % 4 <> 0) AS n
        |  FROM p GROUP BY ck),
        |rc AS (
        |  SELECT ck, count(*) FILTER (WHERE (ck + i) % 3 = 1) AS c
        |  FROM s GROUP BY ck)
        |SELECT e.ck AS enterpriseId, rn.n AS route_num, rc.c AS route_change
        |FROM e JOIN rn ON e.ck = rn.ck JOIN rc ON e.ck = rc.ck
        |ORDER BY enterpriseId""".stripMargin)),

    // S18: the country.json FILE path — the dim is written to disk in
    // the reference's own format (top-level array of {ISO, Country,
    // REG}), read back through CountryDim.read (multiLine JSON with
    // the declared schema), and drives the J4 case-insensitive
    // two-probe enrichment: even keys probe by ISO code, odd keys by
    // full country name, both landing the same REG.
    "q95_country_file" -> Q(
      (s, dir) => {
        import s.implicits._
        val dimRows = Tables.nation(s, dir)
          .select(concat(lit("IS"), col("n_nationkey")).as("iso"),
            col("n_name"), concat(lit("reg-"), col("n_regionkey")).as("reg"))
          .as[(String, String, String)].collect() // 25-row dim fixture
        val json = dimRows.map { case (iso, name, reg) =>
          s"""  {"ISO": "$iso", "Country": "$name", "REG": "$reg"}"""
        }.mkString("[\n", ",\n", "\n]")
        Fixtures.scratchDir("graft_country") { tmp =>
          java.nio.file.Files.write(tmp.resolve("country.json"),
            json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val dim = graft.sources.CountryDim.read(s,
            tmp.resolve("country.json").toString)
          val fact = Tables.customer(s, dir)
            .join(broadcast(Tables.nation(s, dir)),
              col("c_nationkey") === col("n_nationkey"))
            .select(col("c_custkey"),
              when(col("c_custkey") % 2 === 0,
                  concat(lit("is"), col("c_nationkey")))
                .otherwise(lower(col("n_name"))).as("code"))
          graft.sources.CountryDim.enrich(fact, dim, "code")
            .select(col("c_custkey"), col("code"), col("Geospecific"))
        }.orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey,
        |  CASE WHEN c_custkey % 2 = 0 THEN 'is' || c_nationkey
        |       ELSE lower(n_name) END AS code,
        |  'reg-' || n_regionkey AS "Geospecific"
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin)),

    // J3: hub detection through the configurations payload — config
    // documents are rendered as JSON (a third of them WITHOUT the
    // deviceSettings module), parsed back through the declared
    // Schemas.configurationsDoc, reduced to the hub-id set by
    // Hubs.hubIds, and flagged onto the fleet by the broadcast
    // flagHubs join. The oracle restates the hub set as an EXISTS
    // over the same modulus arithmetic.
    "q98_hub_flags" -> Q(
      (s, dir) => {
        val nk = col("n_nationkey")
        val doc = concat(
          lit("""{"id":"""), nk,
          lit(""","modules":[{"name":"WAN"}"""),
          when(nk % 3 =!= 0, concat(
              lit(""",{"name":"deviceSettings","refs":{"deviceSettings:vpn:edgeHub":{"data":{"logicalId":"edge-"""),
              (nk * 7) % 25,
              lit("\"}}}}")))
            .otherwise(lit("")),
          lit("]}"))
        val configs = Tables.nation(s, dir)
          .select(from_json(doc, graft.model.Schemas.configurationsDoc).as("d"))
          .select(col("d.*"))
        val edges = Tables.customer(s, dir)
          .select(col("c_custkey"),
            concat(lit("edge-"), col("c_custkey") % 25).as("logicalId"))
        graft.operators.Hubs.flagHubs(edges,
            graft.operators.Hubs.hubIds(configs), "logicalId")
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, 'edge-' || (c_custkey % 25) AS logicalId,
        |  EXISTS (SELECT 1 FROM nation
        |          WHERE n_nationkey % 3 <> 0
        |            AND (n_nationkey * 7) % 25 = c_custkey % 25) AS is_hub
        |FROM customer
        |ORDER BY c_custkey""".stripMargin)),

    // S8/S9: the link-metrics payload surface — one linkMetricDoc per
    // customer rendered distributedly (ignoreNullFields exercises the
    // absent displayName/backupState keys), parsed back through the
    // declared schema, and projected with the series math the gold
    // path applies (Not set default, exact quarter-integer score
    // average, byte totals, bps→Mbps). No transport: link metric docs
    // arrive embedded in the edge document's recentLinks expansion.
    "q99_link_payload" -> Q(
      (s, dir) => {
        val ck = col("c_custkey")
        val doc = to_json(struct(
          ((ck % 17) / 4.0).as("scoreTx"),
          ((ck % 13) / 4.0).as("scoreRx"),
          (ck * 1000000L).as("bpsOfBestPathTx"),
          (ck * 500000L).as("bpsOfBestPathRx"),
          (ck * 111L).as("bytesTx"),
          (ck * 222L).as("bytesRx"),
          struct(
            ck.as("edgeId"),
            concat(lit("l-"), ck).as("internalId"),
            when(ck % 7 =!= 0, concat(lit("link-"), ck)).as("displayName"),
            concat(lit("GE"), ck % 4).as("interface"),
            when(ck % 5 === 0, lit("ACTIVE")).as("backupState")).as("link")),
          Map("ignoreNullFields" -> "true"))
        Tables.customer(s, dir)
          .select(from_json(doc, graft.model.Schemas.linkMetricDoc).as("d"))
          .select(
            col("d.link.edgeId").as("edgeId"),
            col("d.link.internalId").as("internalId"),
            coalesce(col("d.link.displayName"), lit("Not set"))
              .as("display_name"),
            col("d.link.interface").as("iface"),
            col("d.link.backupState").isNotNull.as("has_backup_state"),
            ((col("d.scoreTx") + col("d.scoreRx")) / 2).as("avg_score"),
            (col("d.bytesTx") + col("d.bytesRx")).as("total_bytes"),
            (col("d.bpsOfBestPathTx") / 1000000.0).as("best_mbps_tx"))
          .orderBy(col("edgeId"))
      },
      Some("""SELECT c_custkey AS edgeId, 'l-' || c_custkey AS internalId,
        |  CASE WHEN c_custkey % 7 <> 0 THEN 'link-' || c_custkey
        |       ELSE 'Not set' END AS display_name,
        |  'GE' || (c_custkey % 4) AS iface,
        |  c_custkey % 5 = 0 AS has_backup_state,
        |  ((c_custkey % 17) + (c_custkey % 13)) / 8.0 AS avg_score,
        |  c_custkey * 333 AS total_bytes,
        |  CAST(c_custkey AS DOUBLE) AS best_mbps_tx
        |FROM customer
        |ORDER BY edgeId""".stripMargin)),

    // S17: the YAML registry parser under the gate — nation rows are
    // rendered as a vco_list.yml document (sections, quoting, comments,
    // null/absent keys), parsed back through YamlConfig, and must equal
    // the relational truth. Exercises quoting, the skip-bool coercion,
    // and absent-key→null handling in one pass.
    "q70_yaml_config" -> Q(
      (s, dir) => {
        import s.implicits._
        val rows = Tables.nation(s, dir)
          .select(col("n_nationkey").cast("long"), col("n_name"),
            col("n_regionkey").cast("long"))
          .as[(Long, String, Long)].collect()
        val yaml = rows.map { case (nk, name, rk) =>
          s"""vco-$nk:  # registry entry
             |  name: "$name"
             |  link: 'https://vco-$nk.example'
             |${if (nk % 3 == 0) s"  skip: true" else "  skip: null"}
             |${if (rk == 2) s"  token: tok-$nk" else ""}
             |  username: user-$rk""".stripMargin
        }.mkString("\n")
        YamlConfig.vcoList(YamlConfig.parse(yaml))
          .toDF()
          .select(col("name"), col("link"), col("skip"), col("token"),
            col("username"))
          .orderBy(col("name"))
      },
      Some("""SELECT n_name AS name,
        |  'https://vco-'||n_nationkey||'.example' AS link,
        |  n_nationkey % 3 = 0 AS skip,
        |  CASE WHEN n_regionkey = 2 THEN 'tok-'||n_nationkey END AS token,
        |  'user-'||n_regionkey AS username
        |FROM nation
        |ORDER BY name""".stripMargin)),

    // Corrupt-tolerant JSONL ingest: every 10th line is TRUNCATED
    // mid-object; PERMISSIVE from_json quarantines it into the
    // corrupt-record column (raw text preserved for a replay queue)
    // instead of failing the job — the crawl-ingest hardening
    // posture. The oracle states the closed-form truth and never
    // parses JSON, so a green hash pins Spark's malformed-record
    // contract: all-null fields + populated corrupt column, parsed
    // values intact elsewhere.
    "q253_corrupt_json" -> Q(
      (s, dir) => {
        val corruptAt = col("doc_id") % 10 === 3
        val line = when(corruptAt,
            concat(lit("{\"doc_id\": "), col("doc_id"),
              lit(", \"lang\": ")))
          .otherwise(to_json(struct(col("doc_id"), col("lang"),
            col("n_chars"))))
        val schema = "doc_id BIGINT, lang STRING, n_chars BIGINT, " +
          "_corrupt STRING"
        val opts = new java.util.HashMap[String, String]()
        opts.put("mode", "PERMISSIVE")
        opts.put("columnNameOfCorruptRecord", "_corrupt")
        Tables.documents(s, dir)
          .select(col("doc_id").as("line_id"), line.as("line"))
          .select(col("line_id"),
            from_json(col("line"), schema, opts).as("p"))
          .select(col("line_id"),
            col("p.doc_id").as("parsed_id"),
            col("p.lang").as("parsed_lang"),
            col("p.n_chars").as("parsed_chars"),
            col("p._corrupt").isNotNull.as("is_corrupt"))
          .orderBy(col("line_id"))
      },
      Some("""SELECT doc_id AS line_id,
        |  CASE WHEN doc_id % 10 = 3 THEN NULL ELSE doc_id END
        |    AS parsed_id,
        |  CASE WHEN doc_id % 10 = 3 THEN NULL ELSE lang END
        |    AS parsed_lang,
        |  CASE WHEN doc_id % 10 = 3 THEN NULL ELSE n_chars END
        |    AS parsed_chars,
        |  doc_id % 10 = 3 AS is_corrupt
        |FROM documents
        |ORDER BY line_id""".stripMargin)),

    // binaryFile source ingest — the blob-lake entry path for
    // multimodal data: one PNG FILE per sliced doc (payload a pure
    // function of doc_id), read back through Spark's built-in
    // binaryFile source (path/length/content rows), id parsed from
    // the path, REAL decode via the shared codec dispatch. The
    // oracle recomputes the gray histogram from the q52 pixel
    // formula — file I/O, source, and decoder are all under the
    // hash. At 100 TB this is the pattern for image-corpus ingest:
    // binaryFile scans parallelize per file and the decode rides
    // the scan (one ImageIO context per partition).
    "q303_binaryfile_ingest" -> Q(
      (s, dir) => {
        import graft.operators.Multimodal
        val ids = Tables.documents(s, dir)
          .filter(col("doc_id") % 25 === 0)
          .select(col("doc_id"))
          .collect().map(_.getLong(0)).sorted // slice-bounded fixture
        Fixtures.scratchDir("graft_blob") { tmp =>
          ids.foreach { id =>
            java.nio.file.Files.write(tmp.resolve(f"img_$id%06d.png"),
              Multimodal.syntheticPng(id))
          }
          val media = s.read.format("binaryFile")
            .option("pathGlobFilter", "*.png").load(tmp.toString)
            .select(
              regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
                .cast("long").as("media_id"),
              lit("png").as("kind"), col("content").as("bytes"))
          val decoded = Multimodal.decodeFeatures(media)
            .select(col("media_id"),
              posexplode(col("features")).as(Seq("bucket", "share")))
            .select(col("media_id"), col("bucket"),
              col("share").cast("double").as("share"))
          decoded
        }.orderBy(col("media_id"), col("bucket"))
      },
      Some("""WITH ids AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
        |px AS (
        |  SELECT doc_id,
        |    CAST(((doc_id * 31 + i) % 256) // 16 AS INT) AS b
        |  FROM (SELECT doc_id, unnest(generate_series(0, 63)) AS i
        |        FROM ids)),
        |cnt AS (SELECT doc_id, b, count(*) AS c FROM px GROUP BY 1, 2),
        |bk AS (SELECT doc_id,
        |    CAST(unnest(generate_series(0, 15)) AS INT) AS bucket
        |  FROM ids)
        |SELECT bk.doc_id AS media_id, bk.bucket,
        |  CAST(coalesce(c, 0) / 64.0 AS DOUBLE) AS share
        |FROM bk LEFT JOIN cnt
        |  ON cnt.doc_id = bk.doc_id AND cnt.b = bk.bucket
        |ORDER BY media_id, bucket""".stripMargin))
  )
}
