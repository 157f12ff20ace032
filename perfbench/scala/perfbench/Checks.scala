package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Output checks that need no stored goldens: order-independent
  * digests and row counts restated in plain SQL.
  */
object Checks {

  /** Row count plus the sum and xor of per-row 64-bit hashes. */
  final case class Digest(rows: Long, sum: BigDecimal, xor: Long)

  def digest(df: DataFrame): Digest = {
    val r = df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
        .as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")),
        bit_xor(col("h")))
      .head()
    Digest(r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Digest of a JDBC table, its columns taken by name (Derby folds
    * unquoted identifiers to upper case) and cast to `like`'s types.
    */
  def tableDigest(spark: SparkSession, url: String, table: String,
      like: StructType): Digest = {
    val t = spark.read.format("jdbc").option("url", url)
      .option("dbtable", table).load()
    val byUpper = t.columns.map(c => c.toUpperCase -> c).toMap
    digest(t.select(like.fields.toSeq.map(f =>
      col(byUpper(f.name.toUpperCase)).cast(f.dataType).as(f.name)): _*))
  }

  /** Gold-table row counts restated in SQL over the raw inputs, keyed
    * like the gold frames.
    */
  def sqlCounts(spark: SparkSession, in: graft.pipelines.PowerBiPipeline.Inputs,
      movedHere: Seq[String], skip: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    in.customers.createOrReplaceTempView("pb_customers")
    in.edges.createOrReplaceTempView("pb_edges")
    in.events.createOrReplaceTempView("pb_events")
    in.qoe.createOrReplaceTempView("pb_qoe")
    movedHere.toDF("lid").createOrReplaceTempView("pb_moved")
    val skipList = skip.map(s => s"'$s'").mkString(", ")
    val r = spark.sql(
      s"""WITH cust AS (
         |  SELECT logicalId FROM pb_customers
         |  WHERE logicalId IS NOT NULL
         |    AND logicalId NOT IN (SELECT lid FROM pb_moved)),
         |e AS (
         |  SELECT * FROM pb_edges
         |  WHERE logicalId IS NOT NULL
         |    AND enterpriseId IN (SELECT logicalId FROM cust))
         |SELECT
         |  (SELECT count(*) FROM cust) AS customer,
         |  (SELECT count(*) FROM e) AS edge,
         |  (SELECT count(*) FROM e LATERAL VIEW explode(recentLinks) t AS l
         |   WHERE l.internalId IS NOT NULL) AS links,
         |  (SELECT count(*) FROM pb_events
         |   WHERE event_id IS NOT NULL AND edgeId IS NOT NULL
         |     AND event_type NOT IN ($skipList)
         |     AND edgeId IN (SELECT logicalId FROM e)) AS events,
         |  (SELECT count(DISTINCT edge_key, to_date(ts)) FROM pb_qoe) AS daily_qoe,
         |  (SELECT count(*) FROM e) AS license,
         |  (SELECT 4 * count(*) FROM e) AS edge_attributes,
         |  (SELECT 4 * count(DISTINCT enterpriseId) FROM e)
         |    AS customer_attributes""".stripMargin).head()
    r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.getLong(i) }
      .toMap
  }
}
