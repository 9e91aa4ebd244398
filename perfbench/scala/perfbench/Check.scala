package perfbench

import org.apache.spark.sql.Row

/** Result comparison under the catalog oracle's rule: columns matched by
  * name, rows compared as frames sorted by every column, doubles equal
  * within 1e-9 relative slack, everything else by its string form. */
object Check {

  /** Sort key of a cell: doubles at 9 significant digits, so two values
    * equal within the slack sort to the same place in both frames. */
  private def sortRepr(v: Any): String = v match {
    case null => "\u0000null"
    case d: Double if !d.isNaN => "%.8e".format(d)
    case f: Float if !f.isNaN => "%.8e".format(f.toDouble)
    case other => other.toString
  }

  private def cellsEqual(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Number, y: Number) if isFloating(x) || isFloating(y) =>
      cellsEqual(x.doubleValue, y.doubleValue)
    case _ => a.toString == b.toString
  }

  private def isFloating(n: Number): Boolean = n match {
    case _: java.lang.Double | _: java.lang.Float | _: java.math.BigDecimal => true
    case _ => false
  }

  private def normalise(cols: Seq[String], rows: Seq[Row]): Seq[Seq[Any]] = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map(r => order.map(r.get))
      .map(r => (r.map(sortRepr).mkString("\u0001"), r))
      .sortBy(_._1).map(_._2)
  }

  /** `None` when equal, else the first difference. */
  def compare(cols: Seq[String], rows: Seq[Row], refCols: Seq[String],
      refRows: Seq[Row]): Option[String] =
    if (cols.sorted != refCols.sorted)
      Some(s"schema: result=${cols.sorted} reference=${refCols.sorted}")
    else if (rows.length != refRows.length)
      Some(s"rows: result=${rows.length} reference=${refRows.length}")
    else {
      val names = cols.sorted
      normalise(cols, rows).iterator.zip(normalise(refCols, refRows).iterator)
        .zipWithIndex.collectFirst {
          case ((a, b), i) if a.indices.exists(j => !cellsEqual(a(j), b(j))) =>
            val j = a.indices.find(j => !cellsEqual(a(j), b(j))).get
            s"value: col=${names(j)} row=$i result=${a(j)} reference=${b(j)}"
        }
    }
}
