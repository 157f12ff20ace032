package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Schemas
import graft.pipelines.PowerBiPipeline

/** Seeded input generator for the intake benchmark.
  *
  * The base tables are TPC-H shaped (`orders` ⋈ `lineitem`, the q47
  * edge shape) and identical for every seed: their row counts, the
  * customer of each order and the number of lines per order are fixed
  * functions of the order key. Every property the pipeline branches
  * on is then drawn from key hashes salted by the seed, so two seeds
  * share nothing but the base tables: ids, null keys, moved
  * customers, hubs, link kinds, config stacks, events, link metrics
  * and QoE series all differ.
  *
  * All seven [[PowerBiPipeline.Inputs]] collections are produced here
  * and written to parquet by [[write]]; the pipeline only ever reads
  * those files back.
  */
final class InputGen(spark: SparkSession, seed: Long, orders: Long) {

  /** VCO whose moved customers are dropped ([[Relational.cleanCustomers]]). */
  val vcoName = "vco1"
  /** Event types the run skips (P4). */
  val eventSkip: Seq[String] = Seq("EDGE_HEARTBEAT", "MGD_DEBUG")

  val customers: Long = math.max(20L, orders / 10)
  val qoeDays = 2
  val qoeSamplesPerDay = 24

  /** Seed-salted 64-bit key hash. */
  private def sh(tag: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(tag) +: cols): _*)

  /** Seed-salted bucket in `[0, m)`. */
  private def pick(tag: String, m: Int, cols: Column*): Column =
    pmod(sh(tag, cols: _*), lit(m.toLong)).cast("int")

  /** Fixed (seed-independent) bucket, for the base tables. */
  private def fixed(salt: Long, m: Long, cols: Column*): Column =
    pmod(xxhash64((lit(salt) +: cols): _*), lit(m))

  private def hexId(prefix: String, h: Column): Column =
    concat(lit(prefix), lower(hex(h)))

  private val k = col("o_orderkey")

  // ---------------------------------------------------------- base tables

  private def baseOrders: DataFrame =
    spark.range(1, orders + 1).select(
      col("id").as("o_orderkey"),
      (fixed(7L, customers, col("id")) + 1).as("o_custkey"),
      date_add(lit("1992-01-01").cast("date"),
        fixed(11L, 2400L, col("id")).cast("int")).as("o_orderdate"))

  private def baseLineitem: DataFrame =
    baseOrders.select(k.as("l_orderkey"),
        explode(sequence(lit(1), (fixed(13L, 7L, k) + 1).cast("int")))
          .as("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (fixed(17L, 20000L, col("l_orderkey"), col("l_linenumber")) + 1)
          .as("l_partkey"))

  // ------------------------------------------------------ derived inputs

  private def custLogicalId(c: Column): Column = hexId("c-", sh("cust", c))

  /** Edge key of an order; about 2% of edges carry a null logicalId. */
  private def edgeLogicalId(key: Column): Column =
    when(pick("nullEdge", 100, key) >= 2,
      concat(hexId("e-", sh("edge", key)), lit("-"), key.cast("string")))

  def customersDf: DataFrame = {
    val c = col("id")
    spark.range(1, customers + 1).select(
      c.as("id"),
      // ~2% null logicalId (dropped by customerGold)
      when(pick("nullCust", 100, c) >= 2, custLogicalId(c)).as("logicalId"),
      element_at(array(
          concat(lit("POC Acme "), c.cast("string")),
          concat(lit("Beta "), c.cast("string"), lit(" test")),
          concat(lit("Edge Co "), c.cast("string"), lit(" - Inc")),
          concat(lit("(bad"), c.cast("string")),
          concat(lit("Zürich "), c.cast("string"))),
        pick("custName", 5, c) + 1).as("name"))
  }

  /** ~6% of customers moved away from this VCO, ~2% moved elsewhere
    * only (those stay).
    */
  def moved: Map[String, Seq[String]] = {
    val c = col("id")
    spark.range(1, customers + 1)
      .select(custLogicalId(c).as("lid"), pick("moved", 100, c).as("b"))
      .filter(col("b") < 8)
      .collect()
      .map(r => r.getString(0) ->
        (if (r.getInt(1) < 6) Seq("vco0", vcoName) else Seq("vco2")))
      .toMap
  }

  private def links: DataFrame = {
    val ln = col("l_linenumber")
    val lk = col("l_orderkey")
    val priv = pick("priv", 3, lk, ln) === 0
    baseLineitem.groupBy(lk).agg(collect_list(struct(
      // ~10% of link ids come from a small shared pool, so the same
      // id shows up on many edges (unique within an edge)
      when(pick("dupLink", 10, lk, ln) === 0,
          concat(lit("s-"), pick("pool", 50, lk, ln).cast("string"),
            lit("-"), ln.cast("string")))
        .otherwise(hexId("l-", sh("link", lk, ln))).as("internalId"),
      concat(lit("link"), ln.cast("string")).as("displayName"),
      when(priv, lit(37.402866))
        .otherwise((col("l_partkey") % 90).cast("double")).as("lat"),
      (col("l_partkey") % 180).cast("double").as("lon"),
      concat_ws(".", lit("10"), pick("ip1", 250, lk).cast("string"),
        pick("ip2", 250, lk).cast("string"), ln.cast("string"))
        .as("ipAddress"),
      element_at(array(lit("UNCONFIGURED"), lit("ACTIVE"), lit(null)),
        pick("backup", 3, lk, ln) + 1).as("backupState"),
      when(pick("wl", 2, lk, ln) === 0, lit("WIRELESS"))
        .otherwise(lit("ETHERNET")).as("networkType"))).as("links"))
  }

  /** Edge documents in [[Schemas.edgeDoc]] shape, plus the VCO each
    * edge lives on (`vco`, dropped before the pipeline sees it).
    */
  def edgesWithVco(vcos: Int): DataFrame = {
    val e = baseOrders.join(links, col("l_orderkey") === k, "left")
      .select(
        k.as("id"),
        edgeLogicalId(k).as("logicalId"),
        custLogicalId(col("o_custkey")).as("enterpriseId"),
        element_at(array(concat(lit("Edge "), k.cast("string")),
            concat(lit("(bad"), k.cast("string")),
            concat(lit("Ed€ge"), k.cast("string")), lit(""),
            concat(lit("branch-"), k.cast("string"))),
          pick("edgeName", 5, k) + 1).as("name"),
        element_at(array(lit("CONNECTED"), lit("OFFLINE"),
            lit("NEVER_ACTIVATED"), lit("DEGRADED")),
          pick("state", 4, k) + 1).as("edgeState"),
        when(pick("act", 2, k) === 0, "ACTIVATED").otherwise("PENDING")
          .as("activationState"),
        concat(date_format(col("o_orderdate"), "yyyy-MM-dd"),
          lit("T08:30:15.123Z")).as("activationTime"),
        lit("1998-08-02T10:00:00.5Z").as("lastContact"),
        when(pick("build", 2, k) === 0,
          concat(lit("4."), pick("minor", 9, k).cast("string")))
          .as("buildNumber"),
        when(pick("model", 3, k) =!= 0,
          element_at(array(lit("edge510"), lit("edge540"), lit("edge840"),
            lit("edge3400"), lit("virtual")), pick("m", 5, k) + 1))
          .as("modelNumber"),
        element_at(array(lit("UNCONFIGURED"), lit("ACTIVE"), lit(null)),
          pick("ha", 3, k) + 1).as("haState"),
        struct(
          (pick("lat", 180, k) - 90).cast("double").as("lat"),
          (pick("lon", 360, k) - 180).cast("double").as("lon"),
          when(pick("city", 6, k) =!= 0,
            concat(lit("City"), pick("c", 40, k).cast("string"))).as("city"),
          lit(null).cast("string").as("state"),
          element_at(array(lit("US"), lit("de"), lit("TH"), lit("XX"),
              lit(null), lit("uk"), lit("Fr"), lit("ZZ")),
            pick("country", 8, k) + 1).as("country"),
          element_at(array(lit("94043"),
              concat(lit("A-"), pick("pc", 10, k).cast("string"), lit(" .x")),
              lit("94043!"), lit(null)),
            pick("postal", 4, k) + 1).as("postalCode"),
          lit(null).cast("string").as("streetAddress")).as("site"),
        // ~14% of edges report no recent links
        when(pick("noLinks", 7, k) =!= 0, col("links")).as("recentLinks"),
        concat(lit("vco"), pick("vco", vcos, k).cast("string")).as("vco"))
    conform(e, Schemas.edgeDoc, keep = Seq("vco"))
  }

  def edgesDf: DataFrame = edgesWithVco(1).drop("vco")

  /** Config stacks for ~70% of edges: an Edge Specific level and a
    * profile level, in schema 2.0.0 (flat) or 3.x (segmented) shape.
    */
  def stacksDf: DataFrame = {
    def b(tag: String): Column =
      when(pick(tag, 2, k) === 0, lit("true")).otherwise(lit("false"))
    def policy(tag: String): Column =
      element_at(array(lit("gateway"), lit("direct"), lit("backhaul")),
        pick(tag, 3, k) + 1)
    def level(name: Column, lvl: String, segmented: Boolean): Column = {
      val vpn = concat(lit("""{"enabled":"""), b(lvl + "vpn"),
        lit(""","edgeToEdge":"""), b(lvl + "e2e"),
        lit(""","edgeToEdgeDetail":{"useCloudGateway":"""), b(lvl + "gw"),
        lit("}}"))
      val rule = concat(
        lit("""{"name":"r1","action":{"routeType":"edge2Cloud","edge2CloudRouteAction":{"routePolicy":""""),
        policy(lvl + "pol"), lit("""","routeCfg":{"type":""""),
        element_at(array(lit("edge"), lit("cloud"), lit("hub")),
          pick(lvl + "cfg", 3, k) + 1),
        lit(""""}}}}"""))
      val cp = if (segmented) concat(lit("""{"segments":[{"vpn":"""), vpn,
          lit("}]}"))
        else concat(lit("""{"vpn":"""), vpn, lit("}"))
      val qos = if (segmented) concat(lit("""{"segments":[{"rules":["""),
          rule, lit("""],"outbound":[{"name":"o1"}]}]}"""))
        else concat(lit("""{"rules":["""), rule, lit("]}"))
      concat(lit("""{"name":""""), name, lit("""","schemaVersion":""""),
        lit(if (segmented) "3.0.0" else "2.0.0"),
        lit("""","modules":[{"name":"controlPlane","data":"""), cp,
        lit("""},{"name":"QOS","data":"""), qos,
        lit("""},{"name":"firewall","data":{"firewall_enabled":"""),
        b(lvl + "fw"), lit(""","stateful_firewall_enabled":"""),
        b(lvl + "sfw"),
        lit("""}},{"name":"deviceSettings","data":{"snmp":{"snmpv3":{"enabled":"""),
        b(lvl + "snmp"), lit("}}}}]}"))
    }
    def doc(segmented: Boolean): Column =
      concat(lit("""{"edgeId":""""), edgeLogicalId(k), lit("""","stack":["""),
        level(lit("Edge Specific Profile"), "e", segmented), lit(","),
        level(concat(lit("Profile "), pick("profile", 12, k).cast("string")),
          "p", segmented),
        lit("]}"))
    baseOrders
      .filter(pick("stack", 10, k) < 7 && edgeLogicalId(k).isNotNull)
      .select(from_json(
        when(pick("segmented", 2, k) === 0, doc(segmented = true))
          .otherwise(doc(segmented = false)),
        Schemas.configStackDoc).as("d"))
      .select(col("d.edgeId"), col("d.stack"))
  }

  /** 0-3 events per edge; ~1% have a null id, some are skipped types. */
  def eventsDf: DataFrame = {
    val i = col("i")
    baseOrders
      .select(k, explode(sequence(lit(0), lit(3))).as("i"))
      .filter(i < pick("nEvents", 4, k))
      .select(
        when(pick("nullEvent", 100, k, i) =!= 0,
          pmod(sh("eventId", k, i), lit(Long.MaxValue))).as("event_id"),
        edgeLogicalId(k).as("edgeId"),
        element_at(array(lit("LINK_DEAD"), lit("LINK_ALIVE"), lit("EDGE_UP"),
            lit("EDGE_DOWN"), lit("EDGE_HEARTBEAT"), lit("MGD_DEBUG")),
          pick("eventType", 6, k, i) + 1).as("event_type"),
        date_format(timestamp_seconds(lit(1704067200L) +
            pmod(sh("eventTs", k, i), lit(86400L * 30))),
          "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").as("ts"))
  }

  /** One metrics document per recent link, for ~80% of edges. */
  def linkMetricsDf: DataFrame = {
    val ln = col("l_linenumber")
    val lk = col("l_orderkey")
    val lm = baseLineitem
      .filter(pick("metrics", 10, lk) < 8)
      .select(
        edgeLogicalId(lk).as("edgeId"),
        (pmod(sh("scoreTx", lk, ln), lit(1000L)) / 100.0).as("scoreTx"),
        (pmod(sh("scoreRx", lk, ln), lit(1000L)) / 100.0).as("scoreRx"),
        (pmod(sh("bpsTx", lk, ln), lit(1000L)) * 1000000L + 1000000L)
          .as("bpsOfBestPathTx"),
        (pmod(sh("bpsRx", lk, ln), lit(1000L)) * 1000000L + 1000000L)
          .as("bpsOfBestPathRx"),
        pmod(sh("bytesTx", lk, ln), lit(100000000000L)).as("bytesTx"),
        pmod(sh("bytesRx", lk, ln), lit(100000000000L)).as("bytesRx"),
        struct(
          lk.as("edgeId"),
          // the same id the edge document carries for this link
          when(pick("dupLink", 10, lk, ln) === 0,
              concat(lit("s-"), pick("pool", 50, lk, ln).cast("string"),
                lit("-"), ln.cast("string")))
            .otherwise(hexId("l-", sh("link", lk, ln))).as("internalId"),
          concat(lit("link"), ln.cast("string")).as("displayName"),
          concat(lit("GE"), ln.cast("string")).as("interface"),
          lit(null).cast("double").as("lat"),
          lit(null).cast("double").as("lon"),
          lit("WAN").as("networkSide"),
          lit("ETHERNET").as("networkType"),
          lit(null).cast("string").as("ipAddress"),
          lit(null).cast("string").as("backupState")).as("link"))
    conform(lm, StructType(Seq(org.apache.spark.sql.types.StructField(
      "edgeId", org.apache.spark.sql.types.StringType)) ++
      Schemas.linkMetricDoc.fields))
  }

  /** QoE samples for ~20% of edges over [[qoeDays]] days, states in
    * runs of four samples.
    */
  def qoeDf: DataFrame = {
    val d = col("d")
    val j = col("j")
    baseOrders
      .filter(pick("qoe", 10, k) < 2)
      .select(k.as("edge_key"),
        explode(sequence(lit(0), lit(qoeDays - 1))).as("d"))
      .select(col("edge_key"), d,
        explode(sequence(lit(0), lit(qoeSamplesPerDay - 1))).as("j"))
      .select(col("edge_key"),
        timestamp_seconds(lit(1704067200L) + d * 86400L + j * 7)
          .as("ts"),
        j.cast("long").as("tb"),
        element_at(array(lit(4), lit(4), lit(2), lit(0), lit(3)),
          pick("qoeState", 5, col("edge_key"), d, floor(j / 4)) + 1)
          .as("state"))
  }

  /** ~5% of edges are hubs. */
  def hubsDf: DataFrame =
    baseOrders.filter(pick("hub", 20, k) === 0 && edgeLogicalId(k).isNotNull)
      .select(edgeLogicalId(k).as("edgeId"))

  /** The seven collections, in [[PowerBiPipeline.Inputs]] order. */
  def frames: Seq[(String, DataFrame)] = Seq(
    "customers" -> customersDf, "edges" -> edgesDf, "stacks" -> stacksDf,
    "events" -> eventsDf, "linkMetrics" -> linkMetricsDf, "qoe" -> qoeDf,
    "hubs" -> hubsDf)

  /** Write every collection as parquet under `dir`. */
  def write(dir: String): Unit =
    frames.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name")
    }

  /** Input properties the pipeline's behaviour depends on, measured
    * over the generated collections.
    */
  def properties(in: PowerBiPipeline.Inputs): Seq[(String, Double)] = {
    val e = in.edges
    val nEdges = e.count().toDouble
    val linkRows = e.select(col("id"), explode(col("recentLinks")).as("l"))
    val nLinks = linkRows.count().toDouble
    val dupIds = linkRows.groupBy(col("l.internalId"))
      .agg(countDistinct(col("id")).as("n"))
      .filter(col("n") > 1).count().toDouble
    val qoeGroups = in.qoe.groupBy(col("edge_key"), to_date(col("ts"))).count()
    Seq(
      "edges" -> nEdges,
      "links_per_edge" -> nLinks / nEdges,
      "null_logical_id_share" ->
        e.filter(col("logicalId").isNull).count() / nEdges,
      "moved_customers" -> moved.count(_._2.contains(vcoName)).toDouble,
      "hub_share" -> in.hubs.count() / nEdges,
      "qoe_samples_per_edge_day" ->
        qoeGroups.agg(avg(col("count"))).head().getDouble(0),
      "link_ids_shared_across_edges" -> dupIds)
  }

  /** Cast/extend `df` to exactly `schema` (missing fields become typed
    * nulls), keeping the extra `keep` columns at the end.
    */
  private def conform(df: DataFrame, schema: StructType,
      keep: Seq[String] = Nil): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      (if (df.columns.contains(f.name)) col(f.name)
       else lit(null)).cast(f.dataType).as(f.name)
    } ++ keep.map(col): _*)
}

object InputGen {
  /** Read the collections [[InputGen.write]] produced. */
  def read(spark: SparkSession, dir: String): PowerBiPipeline.Inputs = {
    def p(n: String) = spark.read.parquet(s"$dir/$n")
    PowerBiPipeline.Inputs(p("customers"), p("edges"), p("stacks"),
      p("events"), p("linkMetrics"), p("qoe"), p("hubs"))
  }
}
