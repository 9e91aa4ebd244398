package perfbench

/** Writes the library catalog's oracle SQL (`graft.Queries.oracle`, cell
  * name → DuckDB SQL) as one JSON object to the file named by its argument,
  * for the input generator to compute reference results with. */
object DumpOracle {
  def main(argv: Array[String]): Unit = {
    val w = new java.io.PrintWriter(argv(0), "UTF-8")
    try w.print(Json.mapper.writeValueAsString(graft.Queries.oracle)) finally w.close()
  }
}
