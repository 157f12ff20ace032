package graft.pipelines

import java.sql.{DriverManager, SQLException}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.model.Schemas
import graft.sinks.JdbcUpsertSink

/** §3.1 end-to-end: all eight gold tables from one set of input
  * collections, merged into Derby, with (a) golden values per table,
  * (b) replay idempotence across EVERY table (the reference re-runs
  * its whole upsert loop on every schedule), and (c) the §3.3
  * minimal-vs-full reconciliation (A20).
  */
class PowerBiPipelineSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:powerbipipe;create=true"

  private val edgeFixture = Seq(
    """{"id":1,"logicalId":"e-1","enterpriseId":"c-1","name":"Edge One","edgeState":"CONNECTED",
       "activationState":"ACTIVATED",
       "activationTime":"2024-01-01T00:00:00.000Z","lastContact":"2024-01-11T00:00:00.000Z",
       "buildNumber":"4.5.0","modelNumber":"edge540","haState":"PENDING_INIT",
       "site":{"city":"Palo Alto","country":"US","postalCode":"94040"},
       "recentLinks":[
         {"internalId":"l-1a","displayName":"mpls","lat":37.402866,"lon":-122.117332,"ipAddress":"10.0.0.1","backupState":"UNCONFIGURED","networkType":"ETHERNET"},
         {"internalId":"l-1b","displayName":"lte","lat":37.0,"lon":-122.0,"ipAddress":"10.0.0.2","backupState":"ACTIVE","networkType":"WIRELESS"}]}""",
    """{"id":2,"logicalId":null,"enterpriseId":"c-1","name":"ghost","edgeState":"OFFLINE"}""",
    """{"id":3,"logicalId":"e-3","enterpriseId":"c-2","name":"bare","edgeState":"OFFLINE",
       "recentLinks":[{"internalId":"l-1a","displayName":"dup-id","lat":5.0,"lon":6.0,"ipAddress":"10.1.0.1","backupState":"ACTIVE","networkType":"ETHERNET"}]}""",
    """{"id":9,"logicalId":"e-9","enterpriseId":"c-moved","name":"moved away","edgeState":"CONNECTED"}"""
  ).map(_.replaceAll("\n\\s*", ""))

  // e-1: 3.x segmented stack whose Edge-Specific controlPlane has
  // gateway-routed B2B VPN → b2b_via_gw → Premium. e-3: no stack row.
  // e-9 (the moved customer's edge) and e-absent (in no edge doc) have
  // stacks that must reach no License row.
  private val stackFixture = Seq(
    """{"edgeId":"e-1","stack":[
       {"name":"Edge Specific Profile","schemaVersion":"3.0.0","modules":[
         {"name":"controlPlane","data":{"segments":[{"vpn":{"enabled":true,"edgeToEdge":true,"edgeToEdgeDetail":{"useCloudGateway":true}}}]}}]},
       {"name":"Basic Profile","schemaVersion":"3.0.0","modules":[]}]}""",
    """{"edgeId":"e-9","stack":[{"name":"Basic Profile","schemaVersion":"3.0.0","modules":[]}]}""",
    """{"edgeId":"e-absent","stack":[{"name":"Basic Profile","schemaVersion":"3.0.0","modules":[]}]}"""
  ).map(_.replaceAll("\n\\s*", ""))

  private def inputs = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val customers = Seq(
      (Some(1L), Some("c-1"), Some("POC Acme Corp")),
      (Some(2L), Some("c-2"), Some("Beta test")),
      (Some(3L), Some("c-moved"), Some("Gone Inc")),
      (Some(4L), Option.empty[String], Some("NoId"))
    ).toDF("id", "logicalId", "name")
    val edges = EdgePipeline.readEdges(spark, edgeFixture.toDS())
    val stacks = spark.read.schema(Schemas.configStackDoc)
      .json(stackFixture.toDS())
    val events = Seq(
      (Some(10L), "e-1", "LINK_DEAD", "2024-01-05T00:00:00.000Z"),
      (Some(11L), "e-1", "EDGE_UP", "2024-01-06T12:30:00.000Z"),
      (Some(12L), "e-3", "SKIPME", "2024-01-05T01:00:00.000Z"),
      (Option.empty[Long], "e-3", "LINK_DEAD", "2024-01-05T02:00:00.000Z")
    ).toDF("event_id", "edgeId", "event_type", "ts")
    // bw_tx = 250 Mbps, bw_rx = 100 Mbps; bytes chosen so the capped
    // usage percentages come out EXACT (1.0 % up, 0.5 % down)
    val linkMetrics = Seq(
      ("e-1", "l-1a", 9.0, 200000000L, 100000000L, 40000000000L, 5000000000L),
      ("e-1", "l-1b", 7.0, 50000000L, 0L, 5000000000L, 4000000000L),
      ("e-9", "l-9a", 3.0, 10000000L, 10000000L, 1000L, 1000L),
      ("e-absent", "l-xa", 3.0, 10000000L, 10000000L, 1000L, 1000L)
    ).toDF("edgeId", "iid", "scoreTx", "bpsOfBestPathTx", "bpsOfBestPathRx",
      "bytesTx", "bytesRx")
      .withColumn("link", struct(col("iid").as("internalId")))
      .drop("iid")
    // one day for edge key 1: 4,4,2,2,4,0,0 → one brownout run (2 ticks
    // after a 4) and one blackout run (2 ticks after a 4)
    val qoe = Seq(4, 4, 2, 2, 4, 0, 0).zipWithIndex.map { case (st, i) =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-05 00:0$i%d:00"), i.toLong, st)
    }.toDF("edge_key", "ts", "tb", "state")
    val hubs = Seq("e-1").toDF("edgeId")
    PowerBiPipeline.Inputs(customers, edges, stacks, events, linkMetrics,
      qoe, hubs)
  }

  private def queryAll(sql: String): Seq[Seq[Any]] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) buf += (1 to n).map(rs.getObject)
      buf.toSeq
    } finally conn.close()
  }

  private val tables = Seq("Customer", "Edge", "Links", "Events",
    "DailyQOE", "License", "EdgeAttributes", "CustomerAttributes")

  private def ddl(): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      for (t <- tables)
        try st.executeUpdate(s"DROP TABLE $t") catch { case _: Exception => () }
      st.executeUpdate(
        """CREATE TABLE Customer (CustomerID VARCHAR(36) PRIMARY KEY,
          |  Customer_ID_VCO BIGINT, name VARCHAR(64),
          |  marketing_name VARCHAR(64))""".stripMargin)
      st.executeUpdate(
        """CREATE TABLE Edge (EdgeID VARCHAR(36) PRIMARY KEY,
          |  Customer_ID_VCO VARCHAR(36), name VARCHAR(64), Edge_status VARCHAR(20),
          |  Model VARCHAR(30), Version VARCHAR(30), HA BOOLEAN, Activated_Days INT,
          |  Private_links_num INT, Public_links_num INT, BACKUP BOOLEAN,
          |  WIRELESS BOOLEAN, City VARCHAR(60), Country VARCHAR(60),
          |  PostalCode VARCHAR(20))""".stripMargin)
      st.executeUpdate(
        """CREATE TABLE Links (LinkUUID VARCHAR(36), EdgeID VARCHAR(36),
          |  LinkName VARCHAR(60), Linktype VARCHAR(10),
          |  Networktype VARCHAR(20), IP VARCHAR(40), BackupState VARCHAR(20),
          |  PRIMARY KEY (EdgeID, LinkUUID))""".stripMargin)
      st.executeUpdate(
        """CREATE TABLE Events (EventID BIGINT PRIMARY KEY,
          |  EdgeID VARCHAR(36), Event VARCHAR(40), EventTime TIMESTAMP)""".stripMargin)
      st.executeUpdate(
        """CREATE TABLE DailyQOE (EdgeKey BIGINT, QoeDate DATE,
          |  n_brownouts INT, brownout_min DOUBLE, n_blackouts INT,
          |  blackout_min DOUBLE, PRIMARY KEY (EdgeKey, QoeDate))""".stripMargin)
      st.executeUpdate(
        """CREATE TABLE License (EdgeID VARCHAR(36) PRIMARY KEY,
          |  LicenseMbps INT, License VARCHAR(40), UplinkPct DOUBLE,
          |  DownlinkPct DOUBLE, Score DOUBLE, FeatureSet VARCHAR(40),
          |  EventName VARCHAR(80))""".stripMargin)
      for (t <- Seq("EdgeAttributes", "CustomerAttributes"))
        st.executeUpdate(
          s"""CREATE TABLE $t (uuid VARCHAR(36), name VARCHAR(50),
             |  used BOOLEAN, num DOUBLE, text VARCHAR(100), filter_val VARCHAR(100),
             |  PRIMARY KEY (uuid, name))""".stripMargin)
      st.close()
    } finally conn.close()
  }

  private def snapshot(of: Seq[String] = tables): Map[String, Seq[Seq[Any]]] =
    of.map { t =>
      t -> queryAll(s"SELECT * FROM $t ORDER BY 1, 2")
    }.toMap

  private def gold = PowerBiPipeline.build(inputs, "vco1",
    moved = Map("c-moved" -> Seq("vco1")), eventSkip = Seq("SKIPME"))

  private def run(g: PowerBiPipeline.Gold): Unit =
    PowerBiPipeline.run(g, url, JdbcUpsertSink.DerbyMerge, writePartitions = Some(1))

  test("full DAG: golden values per table and replay idempotence") {
    ddl()
    val g = gold
    run(g)
    val first = snapshot()
    // four replays into the same database: the eight tables merge
    // concurrently, so this is also the cross-table concurrency check
    // on embedded Derby
    for (replay <- 1 to 4) {
      run(g)
      val again = snapshot()
      for (t <- tables)
        assert(first(t) === again(t), s"table $t changed on replay $replay")
    }

    // Customer: moved + null-logicalId dropped; F1/F2/F3 applied
    assert(queryAll(
      "SELECT CustomerID, name, marketing_name FROM Customer ORDER BY 1") ===
      Seq(Seq("c-1", "POC Acme Corp", "Acme Corp"),
        Seq("c-2", "Beta test", "Beta")))

    // Events: skip-list and null-key rows dropped, insert-only rows land
    assert(queryAll("SELECT EventID, EdgeID, Event FROM Events ORDER BY 1") ===
      Seq(Seq(10L, "e-1", "LINK_DEAD"), Seq(11L, "e-1", "EDGE_UP")))

    // DailyQOE: one brownout + one blackout run of 2 ticks each
    assert(queryAll(
      "SELECT EdgeKey, n_brownouts, brownout_min, n_blackouts, blackout_min FROM DailyQOE") ===
      Seq(Seq(1L, 1, 0.237, 1, 0.237)))

    // License: e-1 from metrics+stack (Premium via b2b_via_gw; exact
    // pcts by construction; A9 fold: ((0+9)*12.5/1 + 7)*12.5/2);
    // e-3 all-defaults (no metrics, no stack, null model → null tier)
    assert(queryAll(
      """SELECT EdgeID, LicenseMbps, License, UplinkPct, DownlinkPct,
        |Score, FeatureSet, EventName FROM License ORDER BY 1""".stripMargin) ===
      Seq(
        Seq("e-1", 250, "edge540_400M", 1.0, 0.5, 746.875,
          "Premium Subscription", null),
        Seq("e-3", 0, null, 0.0, 0.0, 0.0,
          "Enterprise Subscription", null)))

    // The moved customer's edge must NOT leak into any gold table
    // (the reference fetches edges inside the per-customer loop,
    // AFTER the moved filter)
    assert(queryAll("SELECT EdgeID FROM Edge WHERE EdgeID = 'e-9'").isEmpty)
    // nor do stacks or link metrics of an out-of-scope or unknown edge
    assert(queryAll("SELECT EdgeID FROM License " +
      "WHERE EdgeID IN ('e-9', 'e-absent')").isEmpty)
    assert(queryAll(
      "SELECT uuid FROM CustomerAttributes WHERE uuid = 'c-moved'").isEmpty)

    // Same internalId on two edges: both Links rows survive under the
    // composite (EdgeID, LinkUUID) key
    assert(queryAll(
      "SELECT EdgeID FROM Links WHERE LinkUUID = 'l-1a' ORDER BY EdgeID") ===
      Seq(Seq("e-1"), Seq("e-3")))

    // CustomerAttributes: inverted rollups melted per customer — c-2's
    // edge has one public ACTIVE ethernet link (backup fires; wireless,
    // HA, private do not)
    assert(queryAll(
      """SELECT uuid, name, num FROM CustomerAttributes
        |WHERE uuid = 'c-2' ORDER BY name""".stripMargin) ===
      Seq(Seq("c-2", "no_backup", 0.0), Seq("c-2", "no_ha", 1.0),
        Seq("c-2", "no_private_link", 1.0), Seq("c-2", "no_wireless", 1.0)))
    assert(queryAll(
      """SELECT name, num FROM CustomerAttributes
        |WHERE uuid = 'c-1' ORDER BY name""".stripMargin) ===
      Seq(Seq("no_backup", 0.0), Seq("no_ha", 0.0),
        Seq("no_private_link", 0.0), Seq("no_wireless", 0.0)))
  }

  test("a failing table fails the run but every other table is merged") {
    ddl()
    val g = gold
    run(g)
    val full = snapshot()
    ddl()
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate("DROP TABLE License")
    finally conn.close()
    val e = intercept[Exception](run(g))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists {
      case s: SQLException => s.getMessage.contains("LICENSE")
      case _ => false
    }, e)
    val others = tables.filterNot(_ == "License")
    assert(snapshot(others) === full.filter(kv => others.contains(kv._1)))
    import scala.jdk.CollectionConverters._
    assert(!Thread.getAllStackTraces.keySet.asScala
      .exists(_.getName.startsWith("jdbc-upsert-")))
  }

  test("the sink's jobs carry the caller's local properties") {
    ddl()
    val g = gold
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = System.currentTimeMillis()
    // submission time, not delivery: the bus may still deliver jobs of
    // earlier tests after the listener is added
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        if (job.time >= t0)
          seen.add(Option(job.properties)
            .flatMap(p => Option(p.getProperty("graft.spec.tag")))
            .getOrElse("<unset>"))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", "powerbi-run")
    try run(g)
    finally {
      sc.setLocalProperty("graft.spec.tag", null)
      // at least one job per table
      try eventually(timeout(Span(30, Seconds))) {
        assert(seen.size >= tables.size)
      } finally sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    // every job the run submitted, not just some
    assert(seen.asScala.toSet === Set("powerbi-run"))
  }

  test("no gold frame analyses to more than 6,000 expression nodes") {
    val g = gold
    val sizes = Map("Customer" -> g.customer, "Edge" -> g.edge,
      "Links" -> g.links, "Events" -> g.events, "DailyQOE" -> g.dailyQoe,
      "License" -> g.license, "EdgeAttributes" -> g.edgeAttributes,
      "CustomerAttributes" -> g.customerAttributes)
      .map { case (t, df) => t -> SparkSpec.analyzedExprNodes(df) }
    // License analysed to 22,790 while featureSetFromStack copied its
    // version branches and flag structs per use
    assert(sizes.filter(_._2 > 6000) === Map.empty, sizes)
  }

  test("reconciliation: minimal-path counts equal full-pipeline counts") {
    val in = inputs
    // no moved map: every customer (incl. c-moved) is in scope
    val gold = PowerBiPipeline.build(in, "vco1")
    val minimal = EdgePipeline.minimalCounts(in.edges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = PowerBiPipeline.fullCounts(gold.edge)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(minimal === full)
    assert(full === Map("c-1" -> 1L, "c-2" -> 1L, "c-moved" -> 1L))
  }
}
