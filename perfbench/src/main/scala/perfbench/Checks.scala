package perfbench

/** A column checksum DuckDB computed over the same parquet slice. */
final case class Checksum(kind: String, col: Int, expected: String) {
  def verify(rows: Vector[Vector[Any]]): Option[String] = {
    val cells = rows.iterator.map(_(col)).filter(_ != null)
    val ok = kind match {
      case "sum_decimal" =>
        cells.map(Answers.decimal).sum == BigDecimal(expected)
      case "sum_long" =>
        cells.map(Answers.decimal).sum == BigDecimal(expected)
      case "sum_days" =>
        cells.map(c => c.asInstanceOf[java.time.LocalDate].toEpochDay).sum == expected.toLong
      case "sum_len" =>
        cells.map(_.toString.length.toLong).sum == expected.toLong
      case "sum_list" =>
        val got = cells.map(_.asInstanceOf[Vector[Any]].iterator
          .map(x => x.asInstanceOf[Number].doubleValue).sum).sum
        val want = expected.toDouble
        math.abs(got - want) <= 1e-6 * math.max(1.0, math.abs(want))
      case other => throw new IllegalArgumentException(s"unknown checksum $other")
    }
    if (ok) None else Some(s"$kind of column $col differs from DuckDB's $expected")
  }
}

/** Result comparison against DuckDB's `tpch_answers()` text (a header line,
  * then `|`-separated rows). Numeric cells agree when within 0.01 absolute
  * (the two-decimal money scale of TPC-H) or 1e-9 relative; other cells
  * compare as trimmed text, NULL as `NULL`. Rows compare in order, and
  * failing that as sorted multisets (ties under ORDER BY may swap).
  */
object Answers {
  def decimal(x: Any): BigDecimal = x match {
    case b: BigDecimal => b
    case n: java.lang.Long => BigDecimal(n.longValue)
    case n: java.lang.Integer => BigDecimal(n.intValue)
    case n: Number => BigDecimal(n.doubleValue)
    case s => BigDecimal(s.toString)
  }

  private def render(x: Any): String = x match {
    case null => "NULL"
    case s => s.toString.trim
  }

  private def cellsAgree(want: String, got: Any): Boolean = {
    val w = want.trim
    (got, w.toDoubleOption) match {
      case (n @ (_: Number | _: BigDecimal), Some(wd)) =>
        val gd = decimal(n).toDouble
        math.abs(gd - wd) <= 0.01 || math.abs(gd - wd) <= 1e-9 * math.abs(wd)
      case _ => render(got) == w
    }
  }

  private def rowsAgree(want: Seq[Array[String]], got: Seq[Vector[Any]]): Boolean =
    want.lazyZip(got).forall { (w, g) =>
      w.length == g.size && w.lazyZip(g).forall(cellsAgree)
    }

  private def sortKey(cells: Seq[String]): String =
    cells.map(c => c.toDoubleOption.fold(c)(d => f"$d%.1f")).mkString("|")

  def compare(answer: String, got: Vector[Vector[Any]]): Option[String] = {
    val want = answer.linesIterator.drop(1).filter(_.nonEmpty).map(_.split("\\|", -1)).toVector
    if (want.size != got.size) Some(s"${got.size} rows, expected ${want.size}")
    else if (rowsAgree(want, got)) None
    else {
      val ws = want.sortBy(w => sortKey(w.toSeq))
      val gs = got.sortBy(g => sortKey(g.map(render)))
      if (rowsAgree(ws, gs)) None
      else {
        val bad = want.indices.find(i => !rowsAgree(Seq(want(i)), Seq(got(i)))).getOrElse(0)
        Some(s"row $bad: got ${got(bad).map(render).mkString("|")}, " +
          s"expected ${want(bad).mkString("|")}".take(400))
      }
    }
  }
}
