package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a whole result: the row count plus the XOR
  * and the split 64-bit sum of one xxhash64 per row over every column
  * (columns in name order). Computing it reads every row and every column,
  * so Catalyst cannot prune any part of the declared result. */
final case class Digest(rows: Long, xor: Long, sumLo: Long, sumHi: Long) {
  override def toString: String = s"$rows:$xor:$sumLo:$sumHi"
}

object Digest {
  def parse(s: String): Digest = {
    val p = s.split(":").map(_.toLong)
    Digest(p(0), p(1), p(2), p(3))
  }

  /** Builds the same digest from row hashes computed outside Spark. */
  final class Builder {
    private var rows, xor, lo, hi = 0L
    def add(h: Long): Unit = {
      rows += 1; xor ^= h; lo += h & 0xffffffffL; hi += h >>> 32
    }
    def result: Digest = Digest(rows, xor, lo, hi)
  }
}

object ResultHash {
  val Seed = 42L

  // maps have no hash in Spark SQL; their sorted entry arrays do
  private def canon(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case ArrayType(_: MapType, _) => transform(c, x => array_sort(map_entries(x)))
    case _ => c
  }

  def of(df: DataFrame): Digest = {
    val cols = df.schema.fields.sortBy(_.name).map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = col("h")
    val r = df.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(lit(0xffffffffL))),
        sum(shiftrightunsigned(h, 32)))
      .collect()(0)
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Digest(l(0), l(1), l(2), l(3))
  }
}
