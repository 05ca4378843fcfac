package graftbench

/** Writes the DuckDB oracle SQL of the named catalog queries as one JSON
  * object: `graftbench.Oracles <out.json> <name>...`. Queries without an
  * oracle are left out. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val m = args.drop(1).flatMap(n => sql.get(n).map(n -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)), Json(m) + "\n")
  }
}
