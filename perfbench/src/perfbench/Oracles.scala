package perfbench

/** Writes the DuckDB oracle SQL of every entry the entry workloads run, as
  * one JSON object, to the file named by the only argument. Used by
  * `oracle_check.py`. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val names = Workloads.byId(Workloads.SqlIds ++ Workloads.PipelineIds).toSet
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    val json = oracles.toSeq.sortBy(_._1).map { case (k, v) => s"${quote(k)}:${quote(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(args(0)), json.getBytes("UTF-8"))
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
