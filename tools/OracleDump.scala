// Every registered query's DuckDB oracle SQL, one JSON object per
// line sorted by query name, escaped by the one JSON string escaper
// (`VcoScan.json`) that graft.Verify uses for oracle_sql.json —
// without running any query. Two checkouts whose dumps are
// byte-identical gate the same SQL. It is declared in graft.sources,
// VcoScan's package, so it compiles against any checkout that has it.
//
// Build and run with oracle_dump.sh, next to this file.
package graft.sources

object OracleDump {
  def main(args: Array[String]): Unit =
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(s"{${VcoScan.json(k)}: ${VcoScan.json(v)}}")
    }
}
