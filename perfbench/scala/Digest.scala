package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

/** Row count plus an order-independent content digest of a result.
  *
  * Each row is rendered as JSON with its columns in name order (so column
  * order does not matter, as in the oracle gate), hashed with xxhash64, and
  * the hashes are summed exactly as DECIMAL(38,0) (so row order does not
  * matter either). Map columns are rendered as key-sorted entry arrays
  * because their entry order is not part of their value. */
object Digest {

  final case class Value(rows: Long, digest: String) {
    override def toString: String = s"$rows/$digest"
  }

  def of(df: DataFrame): Value = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    // positional renames: result columns may repeat a name
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val canon = fields.toSeq.zipWithIndex.map { case ((f, i), k) =>
      val c = positional.col(s"c$i")
      val v = f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _          => c
      }
      v.as(s"k$k")
    }
    val row = if (canon.isEmpty) lit("") else to_json(struct(canon: _*), Map("ignoreNullFields" -> "false"))
    val r = positional.select(xxhash64(row).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(BigDecimal(0))).as("s"))
      .head()
    Value(r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}
