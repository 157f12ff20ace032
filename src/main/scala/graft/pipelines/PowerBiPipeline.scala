package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Dates, Text}
import graft.model.Schemas
import graft.operators.{Aggregates, ConfigStack, License, Melt, Qoe, Relational}
import graft.sinks.JdbcUpsertSink

/** §3.1 end-to-end: the whole `powerbi_main_script.py` run as ONE
  * declarative DAG (`process_customer` + `process_full_edge`,
  * `powerbi_main_fun.py:150-278,431-574`).
  *
  * The reference walks customers, then edges, then sub-payloads
  * imperatively, issuing ~30 SQL round-trips per edge. Here each input
  * collection is a DataFrame and each gold table is one derived frame:
  *
  * {{{
  *   customers ──P1/F1-F3──────────────────────► Customer
  *   edges ───edgeGold (P2/P6/P7/P12/F1-F5/A5)─► Edge ──melt K5─► EdgeAttributes
  *        └──linksGold (J1 shape)──────────────► Links
  *   events ──P4 skip-list + null-key───────────► Events          (K2 insert-only)
  *   qoe ──A15/A16 run-length───────────────────► DailyQOE
  *   linkMetrics ─A9-A13─┬─ per-edge usage aggs ► License
  *   stacks ─A4/A14──────┘  (feature set via featureSetFromStack)
  *   edges ──A19 rollups──melt K5──────────────► CustomerAttributes
  * }}}
  *
  * Scale shape: every derivation is either per-document (pure
  * projection over the embedded arrays — Edge, Links, Events,
  * Customer) or one keyed aggregation (License usage by edge, QoE
  * run-lengths by (edge, day), rollups by customer). Joins are on the
  * edge key at equal cardinality — hash joins on co-partitioned
  * shuffles, nothing driver-side, no collect anywhere. Each gold
  * table then flows through ONE batched idempotent merge
  * ([[JdbcUpsertSink]]), so replaying the whole pipeline is a no-op —
  * the property [[PowerBiPipelineSpec]] asserts over all tables.
  */
object PowerBiPipeline {

  /** The run's input collections (one per reference API family).
    *
    *  - `customers`: (id LONG, logicalId STRING, name STRING) — S2
    *  - `edges`: [[Schemas.edgeDoc]] rows — S3
    *  - `stacks`: [[Schemas.configStackDoc]] rows — S6
    *  - `events`: (event_id LONG, edgeId STRING, event_type STRING,
    *    ts STRING ISO) — S7
    *  - `linkMetrics`: [[Schemas.linkMetricDoc]] rows plus an
    *    `edgeId` STRING column (the reference call is per-edge, so
    *    the edge key arrives with the payload) — S8/S9
    *  - `qoe`: (edge_key LONG, ts TIMESTAMP, tb LONG, state INT) — S10
    *  - `hubs`: (edgeId STRING) — the hub id set from enterprise
    *    configurations (S5/J3)
    */
  final case class Inputs(
      customers: DataFrame,
      edges: DataFrame,
      stacks: DataFrame,
      events: DataFrame,
      linkMetrics: DataFrame,
      qoe: DataFrame,
      hubs: DataFrame)

  /** The eight gold frames of the §3.1 restatement. */
  final case class Gold(
      customer: DataFrame,
      edge: DataFrame,
      links: DataFrame,
      events: DataFrame,
      dailyQoe: DataFrame,
      license: DataFrame,
      edgeAttributes: DataFrame,
      customerAttributes: DataFrame)

  /** Customer gold (`process_customer`, `powerbi_main_fun.py:150-173`):
    * moved-customer filter (P1), sanitized/validated name (F1/F2),
    * marketing name (F3).
    */
  def customerGold(customers: DataFrame, vcoName: String,
      moved: Map[String, Seq[String]]): DataFrame =
    Relational.cleanCustomers(customers, vcoName, moved)
      .filter(col("logicalId").isNotNull)
      .select(
        col("logicalId").as("CustomerID"),
        col("id").as("Customer_ID_VCO"),
        graft.expressions.TextNormalize.sanitizeValidName(col("name"))
          .as("name"),
        Text.marketingName(col("name")).as("marketing_name"))

  /** Events gold (`powerbi_main_fun.py:465-484`): interval comes
    * pushed down in the source call (S7); here the skip-list
    * anti-filter (P4) and null-key guard. Insert-only downstream (K2)
    * — event rows are immutable facts.
    */
  def eventsGold(events: DataFrame, skip: Seq[String]): DataFrame =
    Relational.antiFilter(events, "event_type", skip)
      .filter(col("event_id").isNotNull && col("edgeId").isNotNull)
      .select(
        col("event_id").as("EventID"),
        col("edgeId").as("EdgeID"),
        col("event_type").as("Event"),
        Dates.parseIso(col("ts")).as("EventTime"))

  /** DailyQOE gold (`calculate_edge_link_qoe`,
    * `powerbi_main_fun.py:1807-1887`): the declarative run-length
    * restatement (A15), one row per (edge, day).
    */
  def dailyQoeGold(qoe: DataFrame): DataFrame =
    Qoe.dailyOutagesDF(qoe, "edge_key", to_date(col("ts")), "ts", "tb",
        "state")
      .withColumnRenamed("edge_key", "EdgeKey")
      .withColumnRenamed("day", "QoeDate")

  /** License gold (`update_license_and_link_usage`,
    * `powerbi_main_fun.py:1924-2193`): per-edge link-usage aggregates
    * (A10/A11), the A9 score recurrence over internalId-ordered link
    * scores, tier bucketing (A12), overcapacity events (A13), and the
    * feature set from the config stack (A4/A14). One groupBy on the
    * metric docs + two equi-joins on the edge key.
    */
  def licenseGold(edges: DataFrame, stacks: DataFrame,
      linkMetrics: DataFrame, hubs: DataFrame): DataFrame = {
    val usage = linkMetrics.groupBy(col("edgeId")).agg(
      sum(col("bytesTx")).as("bytes_tx"),
      sum(col("bytesRx")).as("bytes_rx"),
      sum(col("bpsOfBestPathTx")).as("bw_tx"),
      sum(col("bpsOfBestPathRx")).as("bw_rx"),
      // the A9 fold is order-dependent: sort by the unique link id
      sort_array(collect_list(struct(
        col("link").getField("internalId").as("k"),
        col("scoreTx").as("sc")))).as("scores"))
    val fs = stacks.select(col("edgeId"),
      ConfigStack.featureSetFromStack(col("stack")).as("fs"))
    val hubFlag = hubs.select(col("edgeId"), lit(true).as("is_hub"))
    val base = edges.filter(col("logicalId").isNotNull)
      .select(col("logicalId").as("edgeId"), col("modelNumber"),
        col("edgeState"))
    val licMbps = (greatest(col("bw_tx"), col("bw_rx")) / 1000000L)
      .cast("int")
    val upPct = License.usagePct(col("bytes_tx"), col("bw_tx"))
    val downPct = License.usagePct(col("bytes_rx"), col("bw_rx"))
    base
      .join(usage, Seq("edgeId"), "left")
      .join(fs, Seq("edgeId"), "left")
      .join(hubFlag, Seq("edgeId"), "left")
      .withColumn("lic_mbps", coalesce(licMbps, lit(0)))
      .withColumn("up_pct", coalesce(upPct, lit(0.0d)))
      .withColumn("down_pct", coalesce(downPct, lit(0.0d)))
      .select(
        col("edgeId").as("EdgeID"),
        col("lic_mbps").as("LicenseMbps"),
        License.licenseTier(col("modelNumber"), col("lic_mbps"))
          .as("License"),
        col("up_pct").as("UplinkPct"),
        col("down_pct").as("DownlinkPct"),
        when(col("scores").isNotNull, License.runningWeightedScore(
          transform(col("scores"), s => s.getField("sc"))))
          .otherwise(lit(0.0d)).as("Score"),
        coalesce(col("fs").getField("feature_set"),
          lit("Enterprise Subscription")).as("FeatureSet"),
        License.overcapacityEvent(col("modelNumber"), col("lic_mbps"),
          col("edgeState") === "CONNECTED",
          coalesce(col("is_hub"), lit(false)),
          col("up_pct"), col("down_pct")).as("EventName"))
  }

  /** Customer-attribute EAV rows: the A19 boolean rollups (the
    * reference's 9 inverted per-customer probes,
    * `powerbi_main_fun.py:286-352`) melted through the K5 contract.
    */
  def customerAttributesGold(edgeGold: DataFrame): DataFrame = {
    val rollups = Aggregates.booleanRollups(edgeGold, "Customer_ID_VCO",
      Seq(
        "ha" -> col("HA"),
        "backup" -> col("BACKUP"),
        "wireless" -> col("WIRELESS"),
        "private_link" -> (col("Private_links_num") > 0)))
    Melt.toEav(
      rollups.select(col("Customer_ID_VCO"), col("no_ha"),
        col("no_backup"), col("no_wireless"), col("no_private_link")),
      "Customer_ID_VCO",
      numAttrs = Seq("no_ha", "no_backup", "no_wireless",
        "no_private_link"),
      textAttrs = Seq.empty)
  }

  /** Assemble all eight gold frames from one pass over the inputs.
    *
    * Scoping follows the reference's loop nesting: edges are fetched
    * INSIDE the per-customer loop AFTER the moved filter
    * (`powerbi_main_fun.py:117-146`), so a moved customer's edges
    * must not produce gold rows either — edges are semi-joined to the
    * surviving customers, and the per-edge payloads (events, stacks,
    * link metrics) to the surviving edges. The QoE input is keyed by
    * the caller's opaque numeric edge key and is scoped upstream.
    */
  def build(in: Inputs, vcoName: String,
      moved: Map[String, Seq[String]] = Map.empty,
      eventSkip: Seq[String] = Seq.empty): Gold = {
    val customer = customerGold(in.customers, vcoName, moved)
    val edges = Relational.existsIn(in.edges,
      customer.select(col("CustomerID").as("enterpriseId")),
      Seq("enterpriseId"))
    val edgeIds = edges.filter(col("logicalId").isNotNull)
      .select(col("logicalId").as("edgeId"))
    val events = Relational.existsIn(in.events, edgeIds, Seq("edgeId"))
    val stacks = Relational.existsIn(in.stacks, edgeIds, Seq("edgeId"))
    val linkMetrics = Relational.existsIn(in.linkMetrics, edgeIds,
      Seq("edgeId"))
    val edgeG = EdgePipeline.edgeGold(edges)
    Gold(
      customer = customer,
      edge = edgeG,
      links = EdgePipeline.linksGold(edges),
      events = eventsGold(events, eventSkip),
      dailyQoe = dailyQoeGold(in.qoe),
      license = licenseGold(edges, stacks, linkMetrics, in.hubs),
      edgeAttributes = EdgePipeline.edgeAttributes(edgeG),
      customerAttributes = customerAttributesGold(edgeG))
  }

  /** Merge every gold frame into its JDBC table — one batched,
    * idempotent merge per table (the reference's per-row
    * `INSERT … ON DUPLICATE KEY UPDATE` loops collapsed to eight
    * statements' worth of batches). Events is insert-only (K2): an
    * event is an immutable fact, replay must not touch it.
    *
    * `writePartitions` bounds the concurrent connections per table
    * (the sink's own guidance: coalesce to the database's connection
    * budget BEFORE the write). Embedded Derby in the specs takes 1 —
    * parallel MERGE statements on one table can deadlock its lock
    * manager; a production MySQL target takes its pool size.
    */
  def run(gold: Gold, url: String, dialect: JdbcUpsertSink.Dialect,
      writePartitions: Option[Int] = None): Unit = {
    def w(df: DataFrame, table: String, keys: Seq[String],
        updateColsOpt: Option[Seq[String]] = None): Unit =
      JdbcUpsertSink.write(
        writePartitions.map(df.coalesce).getOrElse(df),
        url, table, keys, dialect, updateColsOpt)
    import EdgePipeline.{EdgeAttributesTarget, EdgeTarget, LinksTarget}
    w(gold.customer, "Customer", Seq("CustomerID"))
    w(gold.edge, EdgeTarget.table, EdgeTarget.keys)
    w(gold.links, LinksTarget.table, LinksTarget.keys)
    w(gold.events, "Events", Seq("EventID"), Some(Seq.empty))
    w(gold.dailyQoe, "DailyQOE", Seq("EdgeKey", "QoeDate"))
    w(gold.license, "License", Seq("EdgeID"))
    w(gold.edgeAttributes, EdgeAttributesTarget.table,
      EdgeAttributesTarget.keys)
    w(gold.customerAttributes, "CustomerAttributes", Seq("uuid", "name"))
  }

  /** §3.3 reconciliation (A20, `inventory_sla.py:106-140`): per-
    * customer edge counts from the FULL pipeline's Edge gold — to be
    * compared with [[EdgePipeline.minimalCounts]] over the raw docs
    * (the minimal path). Equal frames ⇒ the two paths agree.
    */
  def fullCounts(edgeGold: DataFrame): DataFrame =
    edgeGold.groupBy(col("Customer_ID_VCO").as("enterpriseId"))
      .agg(count(lit(1)).as("n_edges"))
}
