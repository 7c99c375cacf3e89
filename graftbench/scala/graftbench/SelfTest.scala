package graftbench

import org.apache.spark.sql.Row

/** Self-test of the fingerprint canonicalization (no Spark session).
  *
  * With arguments, prints the canonical text of each argument read as a
  * double, one per line, so `tests/test_fingerprint.py` can compare it
  * with Python's `%.6f`. Exits non-zero when a check fails.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    args.foreach(a => println(Fingerprint.float6(a.toDouble)))
    val failures = checks.collect { case (name, false) => name }
    failures.foreach(n => System.err.println(s"selftest failed: $n"))
    if (failures.nonEmpty) sys.exit(1)
    System.err.println(s"selftest ok (${checks.size} checks)")
  }

  private def fp(rows: Seq[Row], order: Seq[Int]): String = {
    val (n, sum) = Fingerprint.fold(rows.iterator, order)
    Fingerprint.render(n, sum)
  }

  def checks: Seq[(String, Boolean)] = {
    import Fingerprint.cell
    val rows = Seq(Row(1L, "a", 0.5), Row(2L, "b", 0.25), Row(3L, null, Double.NaN))
    Seq(
      "null and NaN read as NULL" ->
        (cell(null) == "NULL" && cell(Double.NaN) == "NULL" && cell(Float.NaN) == "NULL"),
      "ties round to even on the exact binary value" -> (cell(0.0078125) == "0.007812"),
      "negative zero keeps its sign" -> (cell(-0.0) == "-0.000000" && cell(-1e-9) == "-0.000000"),
      "float widens before rounding" -> (cell(0.1f) == "0.100000"),
      "booleans are lower case" -> (cell(true) == "true"),
      "nested values round too" ->
        (cell(Seq(1.0000004, null)) == "[1.000000,NULL]" &&
          cell(Row(2.0, Seq(3.0f))) == "{2.000000,[3.000000]}"),
      "maps compare in key order" ->
        (cell(Map("b" -> 1.0, "a" -> 2.0)) == cell(Map("a" -> 2.0, "b" -> 1.0))),
      "row order does not matter" -> (fp(rows, Seq(0, 1, 2)) == fp(rows.reverse, Seq(0, 1, 2))),
      "column order is fixed by the caller" ->
        (fp(rows, Seq(0, 1, 2)) == fp(rows.map(r => Row(r.get(2), r.get(0), r.get(1))), Seq(1, 2, 0))),
      "a changed value changes the fingerprint" ->
        (fp(rows, Seq(0, 1, 2)) != fp(rows.updated(0, Row(1L, "a", 0.5000011)), Seq(0, 1, 2))),
      "a rounding-level change does not" ->
        (fp(rows, Seq(0, 1, 2)) == fp(rows.updated(0, Row(1L, "a", 0.5000000001)), Seq(0, 1, 2))),
      "the count is part of the fingerprint" -> fp(rows, Seq(0, 1, 2)).startsWith("3:"))
  }
}
