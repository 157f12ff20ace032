package perfbench

import java.sql.DriverManager

/** The BI star schema's gold tables, as embedded Derby DDL. */
object Ddl {
  val Statements: Seq[String] = Seq(
    """CREATE TABLE Customer (CustomerID VARCHAR(36) PRIMARY KEY,
      |  Customer_ID_VCO BIGINT, name VARCHAR(64), marketing_name VARCHAR(64))""",
    """CREATE TABLE Edge (EdgeID VARCHAR(36) PRIMARY KEY,
      |  Customer_ID_VCO VARCHAR(36), name VARCHAR(64), Edge_status VARCHAR(20),
      |  Model VARCHAR(30), Version VARCHAR(30), HA BOOLEAN, Activated_Days INT,
      |  Private_links_num INT, Public_links_num INT, BACKUP BOOLEAN,
      |  WIRELESS BOOLEAN, City VARCHAR(60), Country VARCHAR(60),
      |  PostalCode VARCHAR(20))""",
    """CREATE TABLE Links (LinkUUID VARCHAR(36), EdgeID VARCHAR(36),
      |  LinkName VARCHAR(60), Linktype VARCHAR(10), Networktype VARCHAR(20),
      |  IP VARCHAR(40), BackupState VARCHAR(20), PRIMARY KEY (EdgeID, LinkUUID))""",
    """CREATE TABLE Events (EventID BIGINT PRIMARY KEY, EdgeID VARCHAR(36),
      |  Event VARCHAR(40), EventTime TIMESTAMP)""",
    """CREATE TABLE DailyQOE (EdgeKey BIGINT, QoeDate DATE, n_brownouts INT,
      |  brownout_min DOUBLE, n_blackouts INT, blackout_min DOUBLE,
      |  PRIMARY KEY (EdgeKey, QoeDate))""",
    """CREATE TABLE License (EdgeID VARCHAR(36) PRIMARY KEY, LicenseMbps INT,
      |  License VARCHAR(40), UplinkPct DOUBLE, DownlinkPct DOUBLE, Score DOUBLE,
      |  FeatureSet VARCHAR(40), EventName VARCHAR(80))""") ++
    Seq("EdgeAttributes", "CustomerAttributes").map(t =>
      s"""CREATE TABLE $t (uuid VARCHAR(36), name VARCHAR(50), used BOOLEAN,
         |  num DOUBLE, text VARCHAR(100), filter_val VARCHAR(100),
         |  PRIMARY KEY (uuid, name))""")

  def create(url: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      Statements.foreach(s => st.executeUpdate(s.stripMargin))
      st.close()
    } finally conn.close()
  }
}
