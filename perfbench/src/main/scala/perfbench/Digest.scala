package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent content digest of a table: row count, and the sum
  * and XOR of a 64-bit hash of each row (columns in name order). Two
  * tables with the same rows in any order and partitioning digest alike. */
object Digest {
  def apply(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("h")))
      .collect()(0)
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
  }
}
