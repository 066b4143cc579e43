package graft.perfbench

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digests of outputs, canonicalised as the repository's
  * oracle check does it (tools/selfcheck.py): columns sorted by name,
  * doubles rounded to 6 places, negative zero folded into zero. Each row
  * becomes one canonical JSON string; the digest is the row count plus the
  * sum of the rows' 64-bit hashes, so row order and partitioning cannot
  * change it. */
object Digest {

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 6)
      when(r === 0.0, lit(0.0)).otherwise(r)
    case ArrayType(et @ (DoubleType | FloatType), _) =>
      transform(c, x => canonical(x, et))
    case _ => c
  }

  /** "rows:lo:hi" where lo/hi are the sums of the low and high 32 bits of
    * the row hashes (two sums, so no 64-bit overflow). */
  def of(df: DataFrame): String = {
    val fields = df.schema.fields.sortBy(_.name)
    val row = to_json(struct(fields.map(f => canonical(col(s"`${f.name}`"), f.dataType).as(f.name)).toIndexedSeq: _*))
    val h = xxhash64(row)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
      .first()
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    f"${r.getLong(0)}%d:$lo%x:$hi%x"
  }

  /** One digest over named parts, independent of the order they are given. */
  def combine(parts: Iterable[(String, String)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.toSeq.sorted.foreach { case (k, v) => md.update(s"$k=$v\n".getBytes("UTF-8")) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
