package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text
import graft.operators.{ConfigStack, Relational, Routes}
import graft.pipelines.{EdgePipeline, GatewayPipeline}
import graft.operators.Links
import graft.sources.CountryDim

/** q42–q49, q51: oracle gates for the gold-pipeline operators that
  * were previously spec-only (VERDICT r3 item 1) — J1 link enrichment,
  * J4 country dim, A4 firewall fallback, A7 route aggregates, A18
  * gateway metric merge, A20 reconciliation, P1/P6/P7/P9/P12 filters
  * and F1–F5 scalar functions (through the edge-gold projection).
  *
  * The star schema is flat, so every query first SYNTHESIZES the
  * nested API-payload shape from lineitem/orders with key-derived
  * arithmetic (deterministic on both engines), runs the REAL operator
  * under test, and flattens to a total-ordered scalar frame the DuckDB
  * oracle can restate flat-relationally. Where the reference semantics
  * are a literal value map (marketing names, country codes), the
  * oracle pins the golden outputs per input class — the same
  * expectations the reference's own behavior defines.
  */
object GoldQueries extends QueryPack {

  /** (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
    * so payload synthesis that needs one row per (edge, link) key
    * dedupes through a deterministic aggregate (min per group) — a
    * dropDuplicates would keep an arbitrary row and break the hash
    * gate.
    */
  private def linkBase(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
      .agg(min(col("l_partkey")).as("pk"), min(col("l_suppkey")).as("sk"),
        min(col("l_shipdate")).as("sd"))

  private val linkBaseSql =
    """SELECT l_orderkey AS ok, l_linenumber AS ln,
      |         min(l_partkey) AS pk, min(l_suppkey) AS sk,
      |         min(l_shipdate) AS sd
      |  FROM lineitem GROUP BY 1, 2""".stripMargin

  /** q47's operator body — the edge-gold projection over edge docs
    * synthesized from (orders, lineitem).
    */
  def edgeGoldFrom(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    // the FULL recentLink shape (Schemas.recentLink) — edgeGold
    // coalesces against it, so a narrower struct won't resolve
    val la = lineitem.groupBy(col("l_orderkey")).agg(
      collect_list(struct(
        concat(lit("u"), col("l_linenumber")).as("internalId"),
        lit(null).cast("string").as("displayName"),
        when(col("l_partkey") % 3 === 0, lit(37.402866))
          .otherwise((col("l_partkey") % 90).cast("double")).as("lat"),
        lit(null).cast("double").as("lon"),
        lit(null).cast("string").as("ipAddress"),
        when(col("l_suppkey") % 3 === 1, lit("UNCONFIGURED"))
          .when(col("l_suppkey") % 3 === 2, lit("ACTIVE")).as("backupState"),
        when(col("l_linenumber") % 2 === 0, lit("WIRELESS"))
          .otherwise(lit("ETHERNET")).as("networkType"))).as("links"))
    val edges = orders
      .join(la, col("l_orderkey") === k, "left")
      .select(
        when(k % 97 =!= 0, concat(lit("e"), k)).as("logicalId"),
        concat(lit("ent"), col("o_custkey") % 100).as("enterpriseId"),
        when(k % 5 === 0, concat(lit("Edge "), k))
          .when(k % 5 === 1, concat(lit("(bad"), k))
          .when(k % 5 === 2, concat(lit("Ed€ge"), k))
          .when(k % 5 === 4, lit("")).as("name"),
        when(k % 4 === 0, "CONNECTED").when(k % 4 === 1, "OFFLINE")
          .when(k % 4 === 2, "NEVER_ACTIVATED").otherwise("DEGRADED")
          .as("edgeState"),
        when(k % 3 =!= 0, concat(lit("model"), k % 6)).as("modelNumber"),
        when(k % 2 === 1, concat(lit("3."), k % 9)).as("buildNumber"),
        when(k % 3 === 1, lit("UNCONFIGURED"))
          .when(k % 3 === 2, lit("ACTIVE")).as("haState"),
        when(k % 2 === 0, "ACTIVATED").otherwise("PENDING")
          .as("activationState"),
        concat(date_format(col("o_orderdate"), "yyyy-MM-dd"),
          lit("T08:30:15.123Z")).as("activationTime"),
        lit("1998-08-02T10:00:00.5Z").as("lastContact"),
        when(k % 7 =!= 0, col("links")).as("recentLinks"),
        struct(
          when(k % 6 =!= 0, concat(lit("City"), k % 10)).as("city"),
          when(k % 8 === 0, "US").when(k % 8 === 1, "de")
            .when(k % 8 === 2, "TH").when(k % 8 === 3, "XX")
            .when(k % 8 === 5, "uk").when(k % 8 === 6, "Fr")
            .when(k % 8 === 7, "ZZ").as("country"),
          when(k % 4 === 0, lit("94043"))
            .when(k % 4 === 1, concat(lit("A-"), k % 10, lit(" .x")))
            .when(k % 4 === 2, lit("94043!")).as("postalCode")).as("site"))
    EdgePipeline.edgeGold(edges)
      .select(col("EdgeID").as("edge_id"),
        col("Customer_ID_VCO").as("customer_id_vco"), col("name"),
        col("Edge_status").as("edge_status"), col("Model").as("model"),
        col("Version").as("version"), col("HA").as("ha"),
        col("Activated_Days").as("activated_days"),
        col("Private_links_num").as("private_links_num"),
        col("Public_links_num").as("public_links_num"),
        col("BACKUP").as("backup"), col("WIRELESS").as("wireless"),
        col("City").as("city"), col("Country").as("country"),
        col("PostalCode").as("postal_code"))
      .orderBy(col("edge_id"))
  }

  def defs: Map[String, Q] = Map(
    // ----------------------------------------------------------- J1
    // Link-metrics × WAN-config enrichment incl. the reference's
    // "Not set" unmatched defaults and the mode=='Private' ⇒
    // ISP='MPLS' override (powerbi_main_fun.py:1651-1665).
    "q42_link_enrich" -> Q(
      (s, dir) => {
        val base = linkBase(s, dir)
        val metrics = base.select(
          col("ok").as("eid"),
          struct(
            concat(lit("u"), col("ln")).as("internalId"),
            when(col("ln") % 4 =!= 0, concat(lit("link"), col("ln"))).as("displayName"),
            concat(lit("GE"), col("ln")).as("interface"),
            (col("pk") % 90).cast("double").as("lat"),
            (col("sk") % 180).cast("double").as("lon"),
            lit("WAN").as("networkSide"),
            when(col("ln") % 2 === 0, "ETHERNET").otherwise("WIRELESS").as("networkType"),
            concat(lit("10.0.0."), col("ln")).as("ipAddress")).as("link"))
        val wan = base.filter(col("ok") % 2 === 0 && col("ln") <= 4)
          .select(
            col("ok").as("weid"),
            struct(
              concat(lit("u"), col("ln")).as("internalId"),
              (col("pk") % 9000).cast("int").as("MTU"),
              when(col("sk") % 3 =!= 0, concat(lit("isp"), col("sk") % 5)).as("isp"),
              lit("AUTO_DISCOVERED").as("discovery"),
              when(col("ln") % 2 === 0, "Ethernet").otherwise("Wireless").as("type"),
              when(col("pk") % 3 === 0, "Private").otherwise("Public").as("mode"),
              (col("sk") % 4094).cast("int").as("vlanId")).as("wan"))
        Links.enrichLinkMetrics(metrics, "eid", wan, "weid")
          .select(
            col("EdgeID").as("edge_id"), col("LinkUUID").as("link_uuid"),
            col("LinkID").as("link_id"), col("LinkName").as("link_name"),
            col("Networktype").as("network_type"), col("ISP").as("isp"),
            col("MTU").as("mtu"), col("LinkMode").as("link_mode"),
            col("Linktype").as("link_type"), col("OverlayType").as("overlay_type"),
            col("VLANID").as("vlan_id"))
          .orderBy(col("edge_id"), col("link_uuid"))
      },
      Some(s"""WITH base AS ($linkBaseSql),
        |w AS (
        |  SELECT ok, 'u' || CAST(ln AS VARCHAR) AS uuid,
        |         CAST(pk % 9000 AS VARCHAR) AS mtu,
        |         CASE WHEN sk % 3 = 0 THEN NULL
        |              ELSE 'isp' || CAST(sk % 5 AS VARCHAR) END AS isp,
        |         CASE WHEN ln % 2 = 0 THEN 'Ethernet' ELSE 'Wireless' END AS ltype,
        |         CASE WHEN pk % 3 = 0 THEN 'Private' ELSE 'Public' END AS lmode,
        |         CAST(sk % 4094 AS VARCHAR) AS vlan
        |  FROM base WHERE ok % 2 = 0 AND ln <= 4)
        |SELECT b.ok AS edge_id,
        |  'u' || CAST(b.ln AS VARCHAR) AS link_uuid,
        |  CAST(b.ok AS VARCHAR) || '-u' || CAST(b.ln AS VARCHAR) AS link_id,
        |  CASE WHEN b.ln % 4 = 0 THEN 'Not set'
        |       ELSE 'link' || CAST(b.ln AS VARCHAR) END AS link_name,
        |  CASE WHEN b.ln % 2 = 0 THEN 'ETHERNET' ELSE 'WIRELESS' END AS network_type,
        |  CASE WHEN w.ok IS NOT NULL THEN
        |         CASE WHEN w.lmode = 'Private' THEN 'MPLS' ELSE w.isp END
        |       ELSE 'Not set' END AS isp,
        |  CASE WHEN w.ok IS NOT NULL THEN w.mtu ELSE 'Not set' END AS mtu,
        |  CASE WHEN w.ok IS NOT NULL THEN w.lmode ELSE 'Not set' END AS link_mode,
        |  CASE WHEN w.ok IS NOT NULL THEN w.ltype ELSE 'Not set' END AS link_type,
        |  CASE WHEN w.ok IS NOT NULL THEN 'AUTO_DISCOVERED' ELSE 'Not set' END AS overlay_type,
        |  CASE WHEN w.ok IS NOT NULL THEN w.vlan ELSE 'Not set' END AS vlan_id
        |FROM base b LEFT JOIN w
        |  ON w.ok = b.ok AND w.uuid = 'u' || CAST(b.ln AS VARCHAR)
        |ORDER BY edge_id, link_uuid""".stripMargin)),

    // ----------------------------------------------------------- J4
    // Case-insensitive ISO-then-name country enrichment
    // (powerbi_main_fun.py:688-690,784-786): a third of the probes hit
    // the ISO form (lower-cased), a third the full-name form
    // (lower-cased), a third miss entirely.
    "q43_country_enrich" -> Q(
      (s, dir) => {
        val nat = Tables.nation(s, dir)
        val dim = nat.join(Tables.region(s, dir),
            col("n_regionkey") === col("r_regionkey"))
          .select(concat(lit("C"), col("n_nationkey")).as("ISO"),
            col("n_name").as("Country"), col("r_name").as("REG"))
        val fact = Tables.customer(s, dir)
          .join(nat.select(col("n_nationkey"), lower(col("n_name")).as("lname")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"),
            when(col("c_custkey") % 3 === 0, concat(lit("c"), col("c_nationkey")))
              .when(col("c_custkey") % 3 === 1, col("lname"))
              .otherwise(concat(lit("zz"), col("c_custkey"))).as("code"))
        CountryDim.enrich(fact, dim, "code")
          .select(col("c_custkey"), col("code"), col("Geospecific").as("geospecific"))
          .orderBy(col("c_custkey"))
      },
      Some("""WITH dim AS (
        |  SELECT 'C' || CAST(n_nationkey AS VARCHAR) AS iso, n_name AS country,
        |         r_name AS reg
        |  FROM nation JOIN region ON n_regionkey = r_regionkey),
        |fact AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'c' || CAST(c_nationkey AS VARCHAR)
        |         WHEN c_custkey % 3 = 1 THEN lower(n_name)
        |         ELSE 'zz' || CAST(c_custkey AS VARCHAR) END AS code
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |SELECT f.c_custkey, f.code, coalesce(di.reg, dn.reg) AS geospecific
        |FROM fact f
        |LEFT JOIN dim di ON lower(f.code) = lower(di.iso)
        |LEFT JOIN dim dn ON lower(f.code) = lower(dn.country)
        |ORDER BY c_custkey""".stripMargin)),

    // ----------------------------------------------------------- A4
    // update_segment_firewall (powerbi_main_fun.py:2313-2345): NULL-
    // coalesced enabled/stateful with false default, OR'd in/out
    // bools, SUMMED rule counts across edge + profile levels. The
    // synthesized stacks cover: missing firewall module (k%5=0), null
    // enabled (k%3=0) / stateful (k%4=0), null segments array (k%6=0),
    // null per-segment outbound (k%8=0).
    "q44_firewall_fallback" -> Q(
      (s, dir) => {
        val k = col("o_orderkey")
        def rules(n: Column): Column =
          array_repeat(struct(lit("r").as("name")), n.cast("int"))
        val edgeData = struct(
          when(k % 3 === 1, lit(true)).when(k % 3 === 2, lit(false))
            .as("firewall_enabled"),
          when(k % 4 === 1, lit(true)).when(k % 4 >= 2, lit(false))
            .as("stateful_firewall_enabled"),
          rules(k % 3).as("inbound"),
          when(k % 6 =!= 0, array(
            struct(when(k % 8 =!= 0, rules(k % 2)).as("outbound")),
            struct(when(lit(true), rules(k % 4)).as("outbound"))))
            .as("segments"))
        val profData = struct(
          when(k % 9 === 0, lit(null).cast("boolean"))
            .when(k % 2 === 0, lit(true)).otherwise(lit(false))
            .as("firewall_enabled"),
          when(k % 2 === 0, lit(false)).otherwise(lit(true))
            .as("stateful_firewall_enabled"),
          rules((k + 1) % 2).as("inbound"),
          when(lit(true), array(
            struct(when(lit(true), rules(k % 3)).as("outbound")),
            struct(when(lit(false), rules(lit(0))).as("outbound"))))
            .as("segments"))
        val stack = array(
          struct(lit("Edge Specific Profile").as("name"),
            lit("3.2.1").as("schemaVersion"),
            array(struct(
              when(k % 5 =!= 0, lit("firewall")).otherwise(lit("other")).as("name"),
              edgeData.as("data"))).as("modules")),
          struct(lit("Profile").as("name"),
            lit("3.2.1").as("schemaVersion"),
            array(struct(lit("firewall").as("name"),
              profData.as("data"))).as("modules")))
        Tables.orders(s, dir).select(k, stack.as("stack"))
          .select(col("o_orderkey"),
            col("stack").as("st"))
          .select(col("o_orderkey"),
            ConfigStack.segmentFirewallAttrs(col("st")).as("fw"))
          .select(col("o_orderkey"),
            col("fw").getField("firewall_edge_specific").as("firewall_edge_specific"),
            col("fw").getField("firewall_rules_in_bool").as("firewall_rules_in_bool"),
            col("fw").getField("firewall_rules_out_bool").as("firewall_rules_out_bool"),
            col("fw").getField("firewall_rules_num").as("firewall_rules_num"),
            col("fw").getField("stateful_firewall").as("stateful_firewall"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH t AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |         WHEN o_orderkey % 3 = 1 THEN true
        |         WHEN o_orderkey % 3 = 2 THEN false END AS e_enabled,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |         WHEN o_orderkey % 4 = 1 THEN true
        |         WHEN o_orderkey % 4 >= 2 THEN false END AS e_stateful,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 0 ELSE o_orderkey % 3 END AS e_in,
        |    CASE WHEN o_orderkey % 5 = 0 OR o_orderkey % 6 = 0 THEN 0
        |         ELSE (CASE WHEN o_orderkey % 8 = 0 THEN 0
        |                    ELSE o_orderkey % 2 END) + o_orderkey % 4 END AS e_out,
        |    CASE WHEN o_orderkey % 9 = 0 THEN NULL
        |         WHEN o_orderkey % 2 = 0 THEN true ELSE false END AS p_enabled,
        |    (o_orderkey % 2 <> 0) AS p_stateful,
        |    (o_orderkey + 1) % 2 AS p_in,
        |    o_orderkey % 3 AS p_out
        |  FROM orders)
        |SELECT k AS o_orderkey,
        |  coalesce(e_enabled, p_enabled, false) AS firewall_edge_specific,
        |  (e_in > 0 OR p_in > 0) AS firewall_rules_in_bool,
        |  (e_out > 0 OR p_out > 0) AS firewall_rules_out_bool,
        |  CAST(e_in + e_out + p_in + p_out AS INT) AS firewall_rules_num,
        |  coalesce(e_stateful, p_stateful, false) AS stateful_firewall
        |FROM t ORDER BY o_orderkey""".stripMargin)),

    // ----------------------------------------------------------- A7
    // routeNum / routeChange (powerbi_main_fun.py:383-428): per-doc
    // nested exit counts with the Python `None != "DIRECT"` null
    // semantics, and the 1440-minute learnedRoute freshness window.
    "q45_route_aggs" -> Q(
      (s, dir) => {
        val base = linkBase(s, dir)
        val subnets = base.groupBy(col("ok")).agg(collect_list(struct(
          when(col("pk") % 4 =!= 0, array(
            struct(when(col("pk") % 3 === 1, lit("DIRECT"))
              .when(col("pk") % 3 === 2, lit("GATEWAY")).as("type")),
            struct(when(col("sk") % 2 === 0, lit("DIRECT"))
              .otherwise(lit("CLOUD")).as("type")))).as("preferredExits"),
          when(col("sk") % 5 =!= 0,
            struct(concat(date_format(col("sd"), "yyyy-MM-dd"),
              lit("T12:00:00.000Z")).as("modified"))).as("learnedRoute")))
          .as("subnets"))
        subnets.select(col("ok").as("l_orderkey"),
            Routes.routeNum(col("subnets")).as("route_num"),
            Routes.routeChange(col("subnets"),
              lit("1998-08-01 00:00:00").cast("timestamp")).as("route_change"))
          .orderBy(col("l_orderkey"))
      },
      Some(s"""WITH base AS ($linkBaseSql)
        |SELECT ok AS l_orderkey,
        |  CAST(sum(CASE WHEN pk % 4 = 0 THEN 0
        |       ELSE (CASE WHEN pk % 3 = 1 THEN 0 ELSE 1 END)
        |          + (CASE WHEN sk % 2 = 0 THEN 0 ELSE 1 END) END) AS INT) AS route_num,
        |  CAST(sum(CASE WHEN sk % 5 <> 0 AND CAST(sd AS DATE) >= DATE '1998-07-31'
        |       THEN 1 ELSE 0 END) AS INT) AS route_change
        |FROM base GROUP BY ok ORDER BY l_orderkey""".stripMargin)),

    // ----------------------------------------------------------- A18
    // Gateway status-metric merge (gateway_script.py:250-262): metric
    // maxima OVERWRITE inventory CPU/memory when the call succeeded
    // (row present); failed calls (no row) keep inventory values and
    // zero the counters.
    "q46_gateway_metrics" -> Q(
      (s, dir) => {
        val gold = Tables.supplier(s, dir).select(
          concat(lit("g"), col("s_suppkey")).as("GatewayID"),
          (col("s_suppkey") % 100).cast("double").as("GWCPU"),
          (col("s_suppkey") % 64).cast("double").as("GWMemory"))
        val metrics = Tables.lineitem(s, dir)
          .filter(col("l_suppkey") % 3 === 0)
          .groupBy(col("l_suppkey"))
          .agg(max(col("l_quantity")).cast("double").as("cpuPct_max"),
            min(col("l_quantity")).cast("double").as("memoryPct_max"),
            count(lit(1)).as("flowCount_max"),
            max(col("l_linenumber")).cast("long").as("handoffQueueDrops_max"),
            max(col("l_partkey")).as("tunnelCount_max"))
          .select(concat(lit("g"), col("l_suppkey")).as("gatewayId"),
            col("cpuPct_max"), col("memoryPct_max"), col("flowCount_max"),
            col("handoffQueueDrops_max"), col("tunnelCount_max"))
        GatewayPipeline.mergeMetrics(gold, metrics)
          .select(col("GatewayID").as("gateway_id"), col("GWCPU").as("gwcpu"),
            col("GWMemory").as("gwmemory"), col("gw_flow_count"),
            col("gw_handoff"), col("gw_tunnel"))
          .orderBy(col("gateway_id"))
      },
      Some("""WITH m AS (
        |  SELECT l_suppkey, CAST(max(l_quantity) AS DOUBLE) AS cpu,
        |         CAST(min(l_quantity) AS DOUBLE) AS mem,
        |         count(*) AS fc, CAST(max(l_linenumber) AS BIGINT) AS ho,
        |         max(l_partkey) AS tc
        |  FROM lineitem WHERE l_suppkey % 3 = 0 GROUP BY 1)
        |SELECT 'g' || CAST(s_suppkey AS VARCHAR) AS gateway_id,
        |  coalesce(m.cpu, CAST(s_suppkey % 100 AS DOUBLE)) AS gwcpu,
        |  coalesce(m.mem, CAST(s_suppkey % 64 AS DOUBLE)) AS gwmemory,
        |  coalesce(m.fc, 0) AS gw_flow_count,
        |  coalesce(m.ho, 0) AS gw_handoff,
        |  coalesce(m.tc, 0) AS gw_tunnel
        |FROM supplier LEFT JOIN m ON m.l_suppkey = s_suppkey
        |ORDER BY gateway_id""".stripMargin)),

    // ------------------------------------------- P2/P6/P7/P12 + F1-F5
    // The edge-gold projection end-to-end over synthesized edge docs:
    // null-key filter, sanitize/validName golden outputs, "Not set"
    // defaults, sentinel-latitude private classifier, null⇒backup
    // semantics, public-scoped BACKUP/WIRELESS, ACTIVATED-gated days,
    // country normalization, postal guard (powerbi_main_fun.py:
    // 1088-1129,1545-1561,677-686,796-819).
    "q47_edge_gold" -> Q(
      (s, dir) => GoldQueries.edgeGoldFrom(
        Tables.orders(s, dir), Tables.lineitem(s, dir)),
      Some("""WITH la AS (
        |  SELECT l_orderkey AS ok,
        |    CAST(count(CASE WHEN l_partkey % 3 = 0 THEN 1 END) AS INT) AS priv,
        |    CAST(count(*) AS INT) AS tot,
        |    (max(CASE WHEN l_partkey % 3 <> 0 AND l_suppkey % 3 <> 1
        |         THEN 1 ELSE 0 END) = 1) AS bk,
        |    (max(CASE WHEN l_partkey % 3 <> 0 AND l_linenumber % 2 = 0
        |         THEN 1 ELSE 0 END) = 1) AS wl
        |  FROM lineitem GROUP BY 1)
        |SELECT 'e' || CAST(k AS VARCHAR) AS edge_id,
        |  'ent' || CAST(ck % 100 AS VARCHAR) AS customer_id_vco,
        |  CASE WHEN k % 5 = 0 THEN 'Edge ' || CAST(k AS VARCHAR)
        |       WHEN k % 5 = 2 THEN 'Edge' || CAST(k AS VARCHAR)
        |       ELSE 'Invalid' END AS name,
        |  CASE WHEN k % 4 = 0 THEN 'CONNECTED' WHEN k % 4 = 1 THEN 'OFFLINE'
        |       WHEN k % 4 = 2 THEN 'NEVER_ACTIVATED' ELSE 'DEGRADED' END AS edge_status,
        |  CASE WHEN k % 3 = 0 THEN 'Not set'
        |       ELSE 'model' || CAST(k % 6 AS VARCHAR) END AS model,
        |  CASE WHEN k % 2 = 1 THEN '3.' || CAST(k % 9 AS VARCHAR)
        |       ELSE 'Not set' END AS version,
        |  (k % 3 = 2) AS ha,
        |  CAST(CASE WHEN k % 2 = 0
        |       THEN datediff('day', CAST(od AS DATE), DATE '1998-08-02')
        |       ELSE 0 END AS INT) AS activated_days,
        |  CASE WHEN k % 7 = 0 THEN 0 ELSE coalesce(priv, 0) END AS private_links_num,
        |  CASE WHEN k % 7 = 0 THEN 0 ELSE coalesce(tot - priv, 0) END AS public_links_num,
        |  CASE WHEN k % 7 = 0 THEN false ELSE coalesce(bk, false) END AS backup,
        |  CASE WHEN k % 7 = 0 THEN false ELSE coalesce(wl, false) END AS wireless,
        |  CASE WHEN k % 6 = 0 THEN 'Not set'
        |       ELSE 'City' || CAST(k % 10 AS VARCHAR) END AS city,
        |  CASE WHEN k % 8 = 0 THEN 'United States of America'
        |       WHEN k % 8 = 1 THEN 'Germany' WHEN k % 8 = 2 THEN 'Thailand'
        |       WHEN k % 8 = 3 THEN 'XX' WHEN k % 8 = 4 THEN 'Not set'
        |       WHEN k % 8 = 5 THEN 'United Kingdom'
        |       WHEN k % 8 = 6 THEN 'France' ELSE 'ZZ' END AS country,
        |  CASE WHEN k % 4 = 0 THEN '94043'
        |       WHEN k % 4 = 1 THEN 'A-' || CAST(k % 10 AS VARCHAR) || ' .x'
        |       ELSE 'Invalid' END AS postal_code
        |FROM (SELECT o_orderkey AS k, o_custkey AS ck, o_orderdate AS od
        |      FROM orders WHERE o_orderkey % 97 <> 0) o
        |LEFT JOIN la ON la.ok = o.k
        |ORDER BY edge_id""".stripMargin)),

    // ----------------------------------------------------------- P1
    // clean_customers (Functions/data_sanitization.py:31-62): drop
    // customers whose logicalId is in the moved list WITH this VCO
    // among their old VCOs — broadcast anti-join on the literal map.
    "q48_clean_customers" -> Q(
      (s, dir) => {
        val cust = Tables.customer(s, dir).select(
          col("c_custkey").as("id"),
          concat(lit("L"), col("c_custkey") % 100).as("logicalId"))
        Relational.cleanCustomers(cust, "vco1", MovedMap)
          .orderBy(col("id"))
      },
      Some(s"""SELECT c_custkey AS id,
        |  'L' || CAST(c_custkey % 100 AS VARCHAR) AS logicalId
        |FROM customer
        |WHERE 'L' || CAST(c_custkey % 100 AS VARCHAR) NOT IN
        |  (${MovedHere.mkString("'", "', '", "'")})
        |ORDER BY id""".stripMargin)),

    // ----------------------------------------------------------- P9
    // Freshness anti-join (fun_mysql_query.py:17-60): candidates whose
    // snapshot row is missing or stale get recomputed.
    "q49_stale_or_missing" -> Q(
      (s, dir) => {
        val candidates = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"))
        val snapshot = Tables.orders(s, dir)
          .groupBy(col("o_custkey").as("c_custkey"))
          .agg(max(col("o_orderdate")).as("lastUpdated"))
        Relational.staleOrMissing(candidates, snapshot, Seq("c_custkey"),
            "lastUpdated", lit("1998-06-01").cast("timestamp"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM (SELECT o_custkey, max(o_orderdate) AS lu
        |                 FROM orders GROUP BY 1) s
        |  WHERE s.o_custkey = c_custkey
        |    AND s.lu >= TIMESTAMP '1998-06-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin)),

    // ----------------------------------------------------------- F3
    // Marketing-name cleanup (powerbi_main_fun.py:2437-2467): the
    // 20-replace chain, bounded strips, ' from VCO' split, and the
    // extraction regex with its empty-range dash quirk. Inputs are 9
    // fixture classes; the golden outputs are pinned per class (and
    // asserted against marketingNameScala in GoldQueriesSpec).
    "q51_marketing_name" -> Q(
      (s, dir) => {
        val k = col("c_custkey")
        val raw = when(k % 11 === 0, lit(null).cast("string"))
          .when(k % 8 === 0, lit("POC Acme Corp"))
          .when(k % 8 === 1, lit("Acme test"))
          .when(k % 8 === 2, lit("Acme-Test"))
          .when(k % 8 === 3, lit("Acme  Corp"))
          .when(k % 8 === 4, lit("--Acme--"))
          .when(k % 8 === 5, lit("Acme from VCO7"))
          .when(k % 8 === 6, lit("123"))
          .otherwise(lit("Acme-Corp"))
        Tables.customer(s, dir)
          .select(k.as("c_custkey"), raw.as("raw_name"),
            Text.marketingName(raw).as("marketing_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey,
        |  CASE WHEN c_custkey % 11 = 0 THEN NULL
        |       WHEN c_custkey % 8 = 0 THEN 'POC Acme Corp'
        |       WHEN c_custkey % 8 = 1 THEN 'Acme test'
        |       WHEN c_custkey % 8 = 2 THEN 'Acme-Test'
        |       WHEN c_custkey % 8 = 3 THEN 'Acme  Corp'
        |       WHEN c_custkey % 8 = 4 THEN '--Acme--'
        |       WHEN c_custkey % 8 = 5 THEN 'Acme from VCO7'
        |       WHEN c_custkey % 8 = 6 THEN '123'
        |       ELSE 'Acme-Corp' END AS raw_name,
        |  CASE WHEN c_custkey % 11 = 0 THEN NULL
        |       WHEN c_custkey % 8 = 0 THEN 'Acme Corp'
        |       WHEN c_custkey % 8 = 3 THEN 'Acme Corp'
        |       WHEN c_custkey % 8 = 6 THEN NULL
        |       ELSE 'Acme' END AS marketing_name
        |FROM customer
        |ORDER BY c_custkey""".stripMargin)),

    // S4–S6: the config-stack PAYLOAD surface — a JSON document per
    // order is rendered (ignoreNullFields makes null keys ABSENT,
    // exercising the key-presence fallbacks), parsed back through the
    // declared `Schemas.configStackDoc`, and traversed by the real
    // operators (isSegmented, snmpv3Enabled key-presence fallback,
    // segmentFirewallAttrs null/OR/SUM fallback triple). The oracle
    // restates the expected semantics flat-relationally from the same
    // key arithmetic.
    "q72_config_payload" -> Q(
      (s, dir) => {
        val k = col("k")
        // one module shape (union of firewall + deviceSettings keys);
        // null fields vanish from the JSON, so "module has no snmp
        // key" and "module absent" are both representable
        def mod(name: String, fwEnabled: Column, stateful: Column,
            inCnt: Column, outSegCnt: Column, snmpEnabled: Column) =
          struct(
            lit(name).as("name"),
            struct(
              fwEnabled.as("firewall_enabled"),
              stateful.as("stateful_firewall_enabled"),
              when(inCnt.isNotNull,
                array_repeat(struct(lit("r").as("name")), inCnt.cast("int")))
                .as("inbound"),
              when(outSegCnt.isNotNull, array(struct(
                  array_repeat(struct(lit("o").as("name")),
                    outSegCnt.cast("int")).as("outbound"))))
                .as("segments"),
              when(snmpEnabled.isNotNull,
                struct(struct(snmpEnabled.as("enabled")).as("snmpv3")))
                .as("snmp")).as("data"))
        val nul = lit(null).cast("boolean")
        val nulI = lit(null).cast("int")
        val edgeFw = mod("firewall",
          when(k % 3 === 1, lit(true)),          // k%3==2 → key absent
          nul, col("n") % 4, nulI, nul)
        val edgeDs = mod("deviceSettings", nul, nul, nulI, nulI,
          when(k % 5 < 2, k % 5 === 0))          // k%5>=2 → snmp absent
        val profFw = mod("firewall",
          when(k % 7 === 0, lit(true)), when(k % 11 === 0, lit(true)),
          k % 2, k % 3, nul)
        val profDs = mod("deviceSettings", nul, nul, nulI, nulI, k % 4 === 0)
        def lvl(name: String, mods: Column) = struct(
          lit(name).as("name"),
          when(k % 2 === 0, "3.0.0").otherwise("2.0.0").as("schemaVersion"),
          mods.as("modules"))
        val doc = to_json(struct(
          concat(lit("edge-"), k).as("edgeId"),
          array(lvl("Edge Specific Profile",
              when(k % 3 =!= 0, array(edgeFw, edgeDs))
                .otherwise(array(edgeDs))),
            lvl("P", array(profFw, profDs))).as("stack")),
          Map("ignoreNullFields" -> "true"))
        // key-sampled ~13× (q30's pattern): the fallback-branch space
        // is still covered thousands of times over; parsing EVERY
        // order's payload only scales the JsonToStructs bill, not the
        // gate. The sampling modulus MUST stay coprime to the branch
        // moduli {2,3,4,5,7,11} below — a shared factor silently
        // freezes those residues and turns gated branches into dead
        // code on both engines (review catch: %10 pinned k%2 and k%5).
        val parsed = Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 13 === 0)
          .groupBy(col("l_orderkey").as("k"))
          .agg(count(lit(1)).as("n"))
          .select(k, doc.as("doc"))
          .select(k, from_json(col("doc"),
            graft.model.Schemas.configStackDoc).as("d"))
        parsed.select(
            col("d.edgeId").as("edge_id"),
            ConfigStack.isSegmented(col("d.stack")).as("segmented"),
            ConfigStack.snmpv3Enabled(col("d.stack")).as("snmpv3"),
            ConfigStack.segmentFirewallAttrs(col("d.stack")).as("fw"))
          .select(col("edge_id"), col("segmented"), col("snmpv3"),
            col("fw.firewall_edge_specific"),
            col("fw.firewall_rules_in_bool"),
            col("fw.firewall_rules_out_bool"),
            col("fw.firewall_rules_num"),
            col("fw.stateful_firewall"))
          .orderBy(col("edge_id"))
      },
      Some("""WITH base AS (
        |  SELECT l_orderkey AS k, count(*) AS n FROM lineitem
        |  WHERE l_orderkey % 13 = 0 GROUP BY 1)
        |SELECT 'edge-'||k AS edge_id,
        |  k % 2 = 0 AS segmented,
        |  CASE WHEN k % 5 < 2 THEN k % 5 = 0 ELSE k % 4 = 0 END AS snmpv3,
        |  (k % 3 = 1) OR (k % 3 <> 1 AND k % 7 = 0) AS firewall_edge_specific,
        |  (CASE WHEN k % 3 <> 0 THEN n % 4 > 0 ELSE FALSE END)
        |    OR (k % 2 = 1) AS firewall_rules_in_bool,
        |  k % 3 > 0 AS firewall_rules_out_bool,
        |  CAST((CASE WHEN k % 3 <> 0 THEN n % 4 ELSE 0 END)
        |    + (k % 2) + (k % 3) AS INT) AS firewall_rules_num,
        |  k % 11 = 0 AS stateful_firewall
        |FROM base
        |ORDER BY edge_id""".stripMargin))
  )

  /** The reference's moved-customer map shape
    * (`Functions/data_sanitization.py:38-55`): logicalId → old VCOs.
    * Interpolated into BOTH the Spark filter and the oracle SQL so the
    * literal set is shared, not duplicated by hand.
    */
  private val MovedMap: Map[String, Seq[String]] =
    (0 until 60 by 3).map { i =>
      s"L$i" -> Seq(if (i % 2 == 0) "vco1" else "vco2")
    }.toMap

  private val MovedHere: Seq[String] =
    MovedMap.toSeq.filter(_._2.contains("vco1")).map(_._1).sorted
}
