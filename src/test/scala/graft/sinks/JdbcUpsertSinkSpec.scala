package graft.sinks

import java.sql.DriverManager

import graft.SparkSpec
import graft.operators.Melt

/** Upsert-sink contract (SURVEY §5.3): applying the same batch twice
  * must equal applying it once (the reference's replay safety), and
  * conflicting keys must update in place. Runs against embedded Derby
  * (the MERGE dialect); the MySql dialect emits the reference's exact
  * ON DUPLICATE KEY UPDATE text, asserted as a string.
  */
class JdbcUpsertSinkSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:upserttest;create=true"

  private def withTable[A](ddl: String, table: String)(f: => A): A = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try { st.executeUpdate(s"DROP TABLE $table") } catch { case _: Exception => () }
      st.executeUpdate(ddl)
      st.close()
    } finally conn.close()
    f
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

  test("upsert is idempotent and updates on key conflict") {
    import spark.implicits._
    withTable("CREATE TABLE tgt (k INT PRIMARY KEY, v VARCHAR(50), n DOUBLE)", "tgt") {
      val batch1 = Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("k", "v", "n")
      JdbcUpsertSink.write(batch1, url, "tgt", Seq("k"), JdbcUpsertSink.DerbyMerge)
      JdbcUpsertSink.write(batch1, url, "tgt", Seq("k"), JdbcUpsertSink.DerbyMerge)
      assert(queryAll("SELECT k, v, n FROM tgt ORDER BY k") ===
        Seq(Seq(1, "a", 1.5), Seq(2, "b", 2.5)))

      val batch2 = Seq((2, "B", 9.0), (3, "c", 3.5)).toDF("k", "v", "n")
      JdbcUpsertSink.write(batch2, url, "tgt", Seq("k"), JdbcUpsertSink.DerbyMerge)
      assert(queryAll("SELECT k, v, n FROM tgt ORDER BY k") ===
        Seq(Seq(1, "a", 1.5), Seq(2, "B", 9.0), Seq(3, "c", 3.5)))
    }
  }

  test("insert-if-absent never updates (K2, Events INSERT IGNORE)") {
    import spark.implicits._
    withTable("CREATE TABLE ev (k INT PRIMARY KEY, v VARCHAR(50))", "ev") {
      val b1 = Seq((1, "first")).toDF("k", "v")
      val b2 = Seq((1, "second"), (2, "new")).toDF("k", "v")
      JdbcUpsertSink.write(b1, url, "ev", Seq("k"), JdbcUpsertSink.DerbyMerge,
        updateColsOpt = Some(Seq.empty))
      JdbcUpsertSink.write(b2, url, "ev", Seq("k"), JdbcUpsertSink.DerbyMerge,
        updateColsOpt = Some(Seq.empty))
      assert(queryAll("SELECT k, v FROM ev ORDER BY k") ===
        Seq(Seq(1, "first"), Seq(2, "new")))
    }
  }

  test("K5: EAV melt flows through the sink on the (uuid, name) key") {
    import spark.implicits._
    withTable(
      """CREATE TABLE attrs (uuid VARCHAR(36), name VARCHAR(50),
        |  used BOOLEAN, num DOUBLE, text VARCHAR(100), filter_val VARCHAR(100),
        |  PRIMARY KEY (uuid, name))""".stripMargin, "attrs") {
      val wide = Seq(("e1", Some(7), Some("gold"))).toDF("uuid", "route_num", "license")
      val eav = Melt.toEav(wide, "uuid", Seq("route_num"), Seq("license"))
      JdbcUpsertSink.write(eav, url, "attrs", Seq("uuid", "name"),
        JdbcUpsertSink.DerbyMerge)
      // replay + value change: num 7 → 9
      val wide2 = Seq(("e1", Some(9), Some("gold"))).toDF("uuid", "route_num", "license")
      val eav2 = Melt.toEav(wide2, "uuid", Seq("route_num"), Seq("license"))
      JdbcUpsertSink.write(eav2, url, "attrs", Seq("uuid", "name"),
        JdbcUpsertSink.DerbyMerge)
      assert(queryAll("SELECT uuid, name, num, filter_val FROM attrs ORDER BY name") ===
        Seq(Seq("e1", "license", null, "license-True"),
            Seq("e1", "route_num", 9.0, "route_num-True")))
    }
  }

  test("batching flushes exact multiples and remainders correctly") {
    import spark.implicits._
    withTable("CREATE TABLE big (k INT PRIMARY KEY, v INT)", "big") {
      // 1000 rows with batchSize 500, single partition (embedded Derby
      // MERGE is flaky under concurrent writers — a test-double
      // limitation; production targets take parallel merges): the
      // partition hits both the exact-multiple flush and the
      // trailing-remainder flush
      val df = (1 to 1000).map(i => (i, i * 2)).toDF("k", "v").coalesce(1)
      JdbcUpsertSink.write(df, url, "big", Seq("k"),
        JdbcUpsertSink.DerbyMerge, batchSize = 500)
      assert(queryAll("SELECT count(*), sum(v) FROM big") ===
        Seq(Seq(1000, 1001000)))
      // replay stays idempotent at volume
      JdbcUpsertSink.write(df, url, "big", Seq("k"),
        JdbcUpsertSink.DerbyMerge, batchSize = 500)
      assert(queryAll("SELECT count(*) FROM big") === Seq(Seq(1000)))
    }
  }

  test("K4: explicit updateCols merge only the named columns") {
    import spark.implicits._
    withTable("CREATE TABLE loc (k INT PRIMARY KEY, city VARCHAR(40), score DOUBLE)", "loc") {
      JdbcUpsertSink.write(Seq((1, "Palo Alto", 4.5)).toDF("k", "city", "score"),
        url, "loc", Seq("k"), JdbcUpsertSink.DerbyMerge)
      // location-style update (fun_mysql_inserts.py:109-122): only city
      // refreshes; score column is NOT in the update list
      JdbcUpsertSink.write(Seq((1, "Mountain View", 9.9)).toDF("k", "city", "score"),
        url, "loc", Seq("k"), JdbcUpsertSink.DerbyMerge,
        updateColsOpt = Some(Seq("city")))
      assert(queryAll("SELECT k, city, score FROM loc") ===
        Seq(Seq(1, "Mountain View", 4.5)))
    }
  }

  test("all-key tables (bridge shape) degrade to insert-if-absent") {
    import spark.implicits._
    withTable(
      "CREATE TABLE rel (EdgeID VARCHAR(36), GatewayID VARCHAR(36), PRIMARY KEY (EdgeID, GatewayID))",
      "rel") {
      val df = Seq(("e-1", "gw-1"), ("e-2", "gw-1")).toDF("EdgeID", "GatewayID")
      JdbcUpsertSink.write(df, url, "rel", Seq("EdgeID", "GatewayID"),
        JdbcUpsertSink.DerbyMerge)
      JdbcUpsertSink.write(df, url, "rel", Seq("EdgeID", "GatewayID"),
        JdbcUpsertSink.DerbyMerge) // replay: nothing to update, no error
      assert(queryAll("SELECT count(*) FROM rel") === Seq(Seq(2)))
    }
    // MySql renders INSERT IGNORE for the same shape
    val sql = JdbcUpsertSink.MySql.upsertSql("gatewayrelation",
      Seq("EdgeID", "GatewayID"), Seq("EdgeID", "GatewayID"), Seq.empty)
    assert(sql.startsWith("INSERT IGNORE INTO gatewayrelation"))
  }

  test("MySql dialect renders the reference's ODKU statement") {
    val sql = JdbcUpsertSink.MySql.upsertSql("EdgeAttributes",
      Seq("edge_uuid", "name", "used"), Seq("edge_uuid", "name"), Seq("used"))
    assert(sql ===
      """INSERT INTO EdgeAttributes (edge_uuid, name, used)
        |VALUES (?, ?, ?)
        |ON DUPLICATE KEY UPDATE used=VALUES(used)""".stripMargin)
  }

  test("concurrent merge storm into one Derby table converges to the last write per key") {
    import spark.implicits._
    // the r10 full-suite flake's trigger shape — many concurrent
    // writers MERGE-ing one embedded-Derby table — driven on purpose:
    // 8 threads × 10 overlapping-key batches. The sink's chunk-replay
    // (idempotent merge, fresh connection) plus the Derby-dialect
    // single-partition write must land every batch; the final value
    // per key is whichever writer's LAST merge won, so the assert is
    // key COVERAGE + the per-writer sentinel row it alone owns.
    withTable(
      "CREATE TABLE storm (k INT PRIMARY KEY, wtr INT, val INT)", "storm") {
      val nThreads = 8
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      try {
        val latch = new java.util.concurrent.CountDownLatch(1)
        val futures = (0 until nThreads).map { w =>
          pool.submit(new Runnable {
            def run(): Unit = {
              latch.await()
              (0 until 10).foreach { i =>
                // shared keys 0..19 (contended) + writer-owned key
                // 1000+w nobody else touches
                val rows = (0 until 20).map(k => (k, w, i)) :+
                  (1000 + w, w, i)
                JdbcUpsertSink.write(rows.toDF("k", "wtr", "val"), url,
                  "storm", Seq("k"), JdbcUpsertSink.DerbyMerge,
                  batchSize = 7)
              }
            }
          })
        }
        latch.countDown()
        futures.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
      val rows = queryAll("SELECT k, wtr, val FROM storm ORDER BY k")
      // all 20 shared + 8 owned keys present, nothing torn
      assert(rows.map(_.head) ===
        ((0 until 20) ++ (0 until nThreads).map(1000 + _)).map(k => k: Any))
      // every writer's owned key carries ITS id and its final batch
      (0 until nThreads).foreach { w =>
        val r = rows.find(_.head == 1000 + w).get
        assert(r(1) === w && r(2) === 9)
      }
    }
  }
}
