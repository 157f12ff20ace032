package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.model.Schemas
import graft.operators.Melt
import graft.sinks.JdbcUpsertSink
import graft.sinks.JdbcUpsertSink.MergeTarget

/** Gold-table slice (SURVEY §7.2.2-3, §3.1 restatement): nested edge
  * documents → Edge + Links + EdgeAttributes, written through the
  * upsert sink.
  *
  * The reference walks each edge document imperatively and issues
  * ~30 SQL round-trips per edge; here the whole fleet is three
  * declarative frames derived from ONE scan of `edges_raw` (Catalyst
  * shares the scan via plan reuse when written in one action each),
  * and each gold table is ONE batched merge. No shuffle anywhere —
  * every derivation is per-document (higher-order functions over the
  * embedded arrays), so the pipeline scales with scan bandwidth.
  */
object EdgePipeline {

  /** Read edge documents from JSON lines with the declared schema
    * (missing keys ⇒ typed nulls, SURVEY §1.2).
    */
  def readEdges(spark: SparkSession, jsonLines: Dataset[String]): DataFrame =
    spark.read.schema(Schemas.edgeDoc).json(jsonLines)

  /** P6: the reference's sentinel LATITUDE alone marks private/MPLS
    * links (`powerbi_main_fun.py:1548`: `link["lat"] == 37.402866 or
    * link["lat"] == "37.402866"` — no lon check; the string form is
    * moot under the typed schema).
    */
  private def isPrivate(link: Column): Column =
    link.getField("lat") === 37.402866

  /** Python `None != "UNCONFIGURED"` is True — null backupState counts
    * as backup (`powerbi_main_fun.py:1556`).
    */
  private def isBackup(link: Column): Column =
    coalesce(link.getField("backupState") =!= "UNCONFIGURED", lit(true))

  private def isWireless(link: Column): Column =
    coalesce(link.getField("networkType") === "WIRELESS", lit(false))

  /** Edge gold rows (`customer.sql:111-168` subset): null-key filter
    * (P2), sanitized/validated name (F1/F2), "Not set" defaults (P12),
    * link counts (A5) and activated-days (F8) — all computed inside
    * the document, no explode, no shuffle.
    */
  def edgeGold(edges: DataFrame): DataFrame = {
    val links = coalesce(col("recentLinks"),
      array().cast(Schemas.edgeDoc("recentLinks").dataType))
    edges
      .filter(col("logicalId").isNotNull)
      .select(
        col("logicalId").as("EdgeID"),
        col("enterpriseId").as("Customer_ID_VCO"),
        // one-pass native form of validName∘sanitize (bit-parity
        // property-tested in TextNormalizeSpec)
        graft.expressions.TextNormalize.sanitizeValidName(col("name"))
          .as("name"),
        col("edgeState").as("Edge_status"),
        coalesce(col("modelNumber"), lit("Not set")).as("Model"),
        coalesce(col("buildNumber"), lit("Not set")).as("Version"),
        (col("haState").isNotNull && col("haState") =!= "UNCONFIGURED")
          .cast("boolean").as("HA"),
        // gated on ACTIVATED exactly like `powerbi_main_fun.py:
        // 1117-1122` (else 0); datediff truncates to dates, matching
        // the reference's date-only strptime
        when(col("activationState") === "ACTIVATED",
          datediff(graft.functions.Dates.parseIso(col("lastContact")),
            graft.functions.Dates.parseIso(col("activationTime"))))
          .otherwise(0).as("Activated_Days"),
        size(filter(links, isPrivate(_))).as("Private_links_num"),
        (size(links) - size(filter(links, isPrivate(_)))).as("Public_links_num"),
        // BACKUP/WIRELESS are evaluated for PUBLIC links only — the
        // reference's else-branch (`powerbi_main_fun.py:1553-1561`)
        exists(filter(links, l => !isPrivate(l)), isBackup(_))
          .cast("boolean").as("BACKUP"),
        exists(filter(links, l => !isPrivate(l)), isWireless(_))
          .cast("boolean").as("WIRELESS"),
        coalesce(col("site").getField("city"), lit("Not set")).as("City"),
        coalesce(Text.normalizeCountry(col("site").getField("country")),
          lit("Not set")).as("Country"),
        graft.expressions.TextNormalize.validPostal(
          col("site").getField("postalCode"),
          lit("Invalid")).as("PostalCode"))
  }

  /** Links gold rows (`customer.sql:254-272` subset): one row per
    * recentLinks element (J1 enrichment shape), typed by the sentinel
    * classifier.
    */
  def linksGold(edges: DataFrame): DataFrame =
    edges
      .filter(col("logicalId").isNotNull)
      .select(col("logicalId").as("EdgeID"),
        explode(col("recentLinks")).as("link"))
      .select(
        col("link").getField("internalId").as("LinkUUID"),
        col("EdgeID"),
        col("link").getField("displayName").as("LinkName"),
        when(isPrivate(col("link")), "private").otherwise("public").as("Linktype"),
        col("link").getField("networkType").as("Networktype"),
        col("link").getField("ipAddress").as("IP"),
        col("link").getField("backupState").as("BackupState"))
      .filter(col("LinkUUID").isNotNull)

  /** EdgeAttributes EAV rows (K5): melt of the derived wide frame. */
  def edgeAttributes(edgeGold: DataFrame): DataFrame =
    Melt.toEav(
      edgeGold.select(col("EdgeID"),
        col("Private_links_num"), col("Public_links_num"),
        col("Model"), col("Version")),
      "EdgeID",
      numAttrs = Seq("Private_links_num", "Public_links_num"),
      textAttrs = Seq("Model", "Version"))

  /** The edge-side gold tables' merge targets — shared by [[run]] and
    * [[PowerBiPipeline.run]].
    */
  val EdgeTarget: MergeTarget = MergeTarget("Edge", Seq("EdgeID"))
  // composite key: link internalIds are only unique PER EDGE (the
  // same caveat Links.enrichLinkMetrics documents) — a bare LinkUUID
  // key would let same-id links on different edges overwrite each
  // other in the merge
  val LinksTarget: MergeTarget = MergeTarget("Links", Seq("EdgeID", "LinkUUID"))
  val EdgeAttributesTarget: MergeTarget =
    MergeTarget("EdgeAttributes", Seq("uuid", "name"))

  /** Run the full slice into a JDBC target (idempotent merges; safe to
    * re-run — the reconciliation test replays it).
    */
  def run(edges: DataFrame, url: String,
      dialect: JdbcUpsertSink.Dialect): Unit = {
    val gold = edgeGold(edges)
    JdbcUpsertSink.writeAll(Seq(
      gold -> EdgeTarget,
      linksGold(edges) -> LinksTarget,
      edgeAttributes(gold) -> EdgeAttributesTarget), url, dialect)
  }

  /** §3.3 reconciliation (`inventory_sla.py:106-140`): the minimal
    * path's per-customer edge counts, to compare with the full
    * pipeline's output.
    */
  def minimalCounts(edges: DataFrame): DataFrame =
    edges.filter(col("logicalId").isNotNull)
      .groupBy(col("enterpriseId"))
      .agg(count(lit(1)).as("n_edges"))
}
