package graftbench

/** Writes `SparkEntry.oracleSql` (query name → DuckDB SQL) as JSON to
  * the file named by the one argument.
  */
object OracleSql {
  def main(args: Array[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      Json(graft.SparkEntry.oracleSql))
}
