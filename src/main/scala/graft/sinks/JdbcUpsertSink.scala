package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement, SQLException}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** K1–K5: idempotent JDBC merge sink (SURVEY §2.2 — "the must-build").
  *
  * The reference ends every run in `INSERT … ON DUPLICATE KEY UPDATE`
  * (`fun_mysql_inserts.py:347-374`, `Functions/sql_upserts.py:51-88`),
  * issued one row + one commit at a time (~30 round-trips per edge).
  * Spark's `df.write.jdbc` is append/overwrite only, so the merge is a
  * `foreachPartition` writer:
  *
  *  - one connection per partition, `PreparedStatement.addBatch` +
  *    `executeBatch` every `batchSize` rows, one commit per batch —
  *    thousands of rows per round-trip instead of one;
  *  - partition-parallel: at 1000 executors each partition streams its
  *    own batch channel; total load is bounded by `df.rdd
  *    .getNumPartitions`, so `coalesce` to the DB's connection budget
  *    BEFORE the write, don't throttle inside it;
  *  - idempotent by construction: re-running a failed task re-merges
  *    the same keys to the same values (exactly the reference's replay
  *    safety, SURVEY §2.8 late/duplicate row), so Spark task retries
  *    are safe with no transactional coordination;
  *  - the per-row dynamic-SQL string interpolation of
  *    `fun_mysql_inserts.py:125-153` (injection-prone) is replaced by
  *    a fixed statement with bound parameters.
  */
object JdbcUpsertSink {

  /** Engine-specific merge statement over fixed column lists. */
  sealed trait Dialect {
    def upsertSql(table: String, cols: Seq[String], keyCols: Seq[String],
        updateCols: Seq[String]): String
    /** Number of parameter slots per row and the column order to bind. */
    def bindOrder(cols: Seq[String], keyCols: Seq[String],
        updateCols: Seq[String]): Seq[String]
  }

  /** `INSERT … ON DUPLICATE KEY UPDATE c=VALUES(c)` — the reference's
    * own statement shape (`Functions/sql_upserts.py:51-60`). Pair with
    * `rewriteBatchedStatements=true` in the JDBC URL so the driver
    * collapses the batch into one multi-row INSERT.
    */
  case object MySql extends Dialect {
    def upsertSql(table: String, cols: Seq[String], keyCols: Seq[String],
        updateCols: Seq[String]): String =
      if (updateCols.isEmpty)
        // all-key table (bridge/Events shape): nothing to update —
        // INSERT IGNORE is the reference's own K2 statement
        s"""INSERT IGNORE INTO $table (${cols.mkString(", ")})
           |VALUES (${cols.map(_ => "?").mkString(", ")})""".stripMargin
      else {
        val updates = updateCols.map(c => s"$c=VALUES($c)").mkString(", ")
        s"""INSERT INTO $table (${cols.mkString(", ")})
           |VALUES (${cols.map(_ => "?").mkString(", ")})
           |ON DUPLICATE KEY UPDATE $updates""".stripMargin
      }
    def bindOrder(cols: Seq[String], keyCols: Seq[String],
        updateCols: Seq[String]): Seq[String] = cols
  }

  /** ANSI `MERGE` against the dummy one-row table — Derby/DB2 family;
    * also the statement shape for a staging-table merge on engines
    * with real MERGE support.
    */
  case object DerbyMerge extends Dialect {
    def upsertSql(table: String, cols: Seq[String], keyCols: Seq[String],
        updateCols: Seq[String]): String = {
      val on = keyCols.map(k => s"t.$k = ?").mkString(" AND ")
      val ins = s"(${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
      if (updateCols.isEmpty)
        // all-key table, or `updateColsOpt = Some(Seq.empty)`: K2
        // insert-if-absent, the reference's INSERT IGNORE for Events
        // (`fun_mysql_inserts.py:277-288`; a MATCHED clause with an
        // empty SET list is invalid SQL)
        s"""MERGE INTO $table t
           |USING SYSIBM.SYSDUMMY1 s ON $on
           |WHEN NOT MATCHED THEN INSERT $ins""".stripMargin
      else {
        val set = updateCols.map(c => s"$c = ?").mkString(", ")
        s"""MERGE INTO $table t
           |USING SYSIBM.SYSDUMMY1 s ON $on
           |WHEN MATCHED THEN UPDATE SET $set
           |WHEN NOT MATCHED THEN INSERT $ins""".stripMargin
      }
    }
    def bindOrder(cols: Seq[String], keyCols: Seq[String],
        updateCols: Seq[String]): Seq[String] = keyCols ++ updateCols ++ cols
  }

  private def setParam(ps: PreparedStatement, idx: Int, dt: DataType,
      row: Row, field: Int): Unit = {
    if (row.isNullAt(field)) ps.setObject(idx, null)
    else dt match {
      case IntegerType   => ps.setInt(idx, row.getInt(field))
      case LongType      => ps.setLong(idx, row.getLong(field))
      case DoubleType    => ps.setDouble(idx, row.getDouble(field))
      case FloatType     => ps.setFloat(idx, row.getFloat(field))
      case BooleanType   => ps.setBoolean(idx, row.getBoolean(field))
      case StringType    => ps.setString(idx, row.getString(field))
      case DateType      => ps.setDate(idx, row.getDate(field))
      case TimestampType => ps.setTimestamp(idx, row.getTimestamp(field))
      case _: DecimalType => ps.setBigDecimal(idx, row.getDecimal(field))
      case _             => ps.setObject(idx, row.get(field))
    }
  }

  /** Merge `df` into `table`. `keyCols` form the unique key; all other
    * columns are updated on conflict (or pass `updateCols` explicitly).
    */
  def write(df: DataFrame, url: String, table: String, keyCols: Seq[String],
      dialect: Dialect = MySql, updateColsOpt: Option[Seq[String]] = None,
      batchSize: Int = 500): Unit = {
    val schema = df.schema
    val cols = schema.fieldNames.toSeq
    val updateCols = updateColsOpt.getOrElse(cols.filterNot(keyCols.contains))
    val sql = dialect.upsertSql(table, cols, keyCols, updateCols)
    val bind = dialect.bindOrder(cols, keyCols, updateCols)
    val fieldIdx = bind.map(schema.fieldIndex)
    val fieldTypes = fieldIdx.map(schema.fields(_).dataType)

    // Embedded Derby is a single-JVM test stand-in: concurrent
    // partitions MERGE-ing into one table under full-suite load can
    // trip Derby-internal latch errors (Page.unlatch NPE). Serialize
    // the test dialects to one writer; MySQL (production) stays
    // partition-parallel.
    val singleWriter = dialect != MySql
    val target = if (singleWriter) df.coalesce(1) else df

    target.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        var conn: Connection = DriverManager.getConnection(url)
        // One statement per batch chunk: some engines (Derby MERGE)
        // corrupt a reused PreparedStatement across executeBatch+
        // commit cycles, and a dangling prepare holds a transaction
        // open at close; preparing is cheap next to a 500-row batch.
        def runChunk(chunk: Seq[Row]): Unit = {
          val ps: PreparedStatement = conn.prepareStatement(sql)
          try {
            chunk.foreach { row =>
              var i = 0
              while (i < fieldIdx.length) {
                setParam(ps, i + 1, fieldTypes(i), row, fieldIdx(i))
                i += 1
              }
              ps.addBatch()
            }
            ps.executeBatch()
            conn.commit()
          } finally ps.close()
        }
        try {
          // autoCommit(false) can itself fail (dead connection) —
          // keep it inside the finally-close guard so the just-opened
          // connection can't leak
          conn.setAutoCommit(false)
          rows.grouped(batchSize).foreach { chunk =>
            try runChunk(chunk)
            catch {
              case first: SQLException =>
                // The merge is idempotent (re-merging the same keys
                // yields the same values), so a transient engine error
                // — embedded Derby can fail a batch with an internal
                // latch fault under shared-JVM load — is safe to
                // replay exactly once on a fresh connection. Only
                // SQLExceptions qualify (a deterministic driver bug
                // should propagate immediately); if the replay fails
                // too, the ORIGINAL failure rides along as a
                // suppressed exception so the root cause survives.
                try conn.rollback() catch { case _: Exception => () }
                try conn.close() catch { case _: Exception => () }
                conn = DriverManager.getConnection(url)
                conn.setAutoCommit(false)
                try runChunk(chunk)
                catch {
                  case second: Throwable =>
                    if (second ne first) second.addSuppressed(first)
                    throw second
                }
            }
          }
        } catch {
          case e: Throwable =>
            // roll back the open transaction so close() cannot throw
            // (Derby: ERROR 25001) and mask the real batch error
            try conn.rollback() catch { case _: Exception => () }
            throw e
        } finally {
          try conn.close() catch { case _: Exception => () }
        }
      }
    }
  }
}
