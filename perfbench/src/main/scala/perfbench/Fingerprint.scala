package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

/** Order-insensitive fingerprint of a query result: its row count and
  * the exact sum of a 64-bit hash of every row over all output columns.
  * Computing it is one Spark action that materializes every column,
  * which is what the benchmark times for each query.
  */
final case class Fingerprint(rows: Long, hash: BigDecimal) {
  def text: String = s"$rows:$hash"
}

object Fingerprint {
  /** The fingerprinting plan for `df`. Columns are renamed by position,
    * so duplicate output names hash like any others, and map columns
    * are hashed as their key-sorted entries (a map has no hash of its own).
    */
  def plan(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(count(lit(1)).as("rows"), coalesce(sum(h.cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("hash"))
  }

  def of(planned: DataFrame): Fingerprint = {
    val r = planned.collect().head
    Fingerprint(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
