// Every registered query's DuckDB oracle SQL, one JSON object per
// line sorted by query name — what graft.Verify writes into
// oracle_sql.json, without running any query. Two checkouts whose
// dumps are byte-identical gate the same SQL.
//
// Build and run with oracle_dump.sh, next to this file.
object OracleDump {
  def main(args: Array[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(s"{${q(k)}: ${q(v)}}")
    }
  }
}
