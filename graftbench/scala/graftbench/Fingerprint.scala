package graftbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{DataFrame, Row}

import graft.core.Hashing

/** Order-insensitive fingerprint of a query result: the row count plus
  * the sum (mod 2^64) of a 64-bit hash of each row's canonical text.
  *
  * Canonical text: columns in name order; NULL and NaN as `NULL`;
  * floating-point values as `%.6f` with Python's rounding (exact binary
  * value, ties to even, a sign on negative zero) — the comparison rule
  * of the repository's DuckDB oracle check. The same rule applies
  * inside arrays, structs and maps, so nested floats compare stably too.
  */
object Fingerprint {

  def float6(d: Double): String = {
    val s = new JBigDecimal(d).setScale(6, RoundingMode.HALF_EVEN).abs.toPlainString
    if (d < 0 || (d == 0.0 && 1.0 / d < 0)) "-" + s else s
  }

  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NULL" else float6(d)
    case f: Float => if (f.isNaN) "NULL" else float6(f.toDouble)
    case b: Boolean => b.toString
    case bytes: Array[Byte] => bytes.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case d: java.math.BigDecimal => d.toPlainString
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Canonical text of one row, its fields taken in `order`. */
  def rowText(r: Row, order: Seq[Int]): String =
    order.map(i => cell(r.get(i))).mkString("\u0001")

  private val Mod = BigInt(1) << 64

  /** (count, hash sum mod 2^64) over rows; independent of row order. */
  def fold(rows: Iterator[Row], order: Seq[Int]): (Long, BigInt) =
    rows.foldLeft((0L, BigInt(0))) { case ((n, acc), r) =>
      (n + 1, (acc + BigInt(Hashing.xxhash64(rowText(r, order)))).mod(Mod))
    }

  def render(n: Long, sum: BigInt): String = f"$n:${sum.toLong}%016x"

  /** Fingerprint of a DataFrame, computed per partition on the executors. */
  def of(df: DataFrame): String = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val parts = df.rdd.mapPartitions(it => Iterator(fold(it, order))).collect()
    render(parts.map(_._1).sum, parts.map(_._2).foldLeft(BigInt(0))(_ + _).mod(Mod))
  }
}
