package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a DataFrame's full output: the row
  * count plus the sum of one xxhash64 per row over EVERY column. Unlike
  * `count()`, Catalyst cannot prune an output column out of the plan, so
  * the benchmark times the same program a user's job runs.
  *
  * Values are normalized before hashing so that equal results hash
  * equally however Spark partitioned or ordered them:
  *  - floating point: 9 significant digits, so summation order cannot
  *    flip the hash;
  *  - maps: sorted entries rendered through `to_json`; variants through
  *    `to_json`;
  *  - arrays and structs: element-wise.
  * Each column also contributes its null flag, so `(NULL, x)` and
  * `(x, NULL)` hash differently. The 64-bit row hashes are summed as two
  * 32-bit halves, which cannot overflow an ANSI long sum.
  */
object Fingerprint {

  def normalize(c: Column, dt: DataType): Column = dt match {
    case FloatType | DoubleType => format_string("%.8e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case StructType(fields) if fields.nonEmpty =>
      struct(fields.map(f => normalize(c.getField(f.name), f.dataType)
        .as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      to_json(array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("k"),
        normalize(e.getField("value"), vt).as("v")))))
    case VariantType => to_json(c)
    case _ => c
  }

  /** The one-row aggregate whose value is the fingerprint of `df`. */
  def frame(df: DataFrame): DataFrame = {
    val names = df.columns.indices.map(i => s"c$i")
    val renamed = df.toDF(names: _*)
    val parts = renamed.schema.fields.toSeq.flatMap { f =>
      Seq(normalize(col(f.name), f.dataType), col(f.name).isNull)
    }
    val h = if (parts.isEmpty) lit(0L) else xxhash64(parts: _*)
    renamed.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      coalesce(sum(shiftright(col("h"), 32)), lit(0L)).as("hi"),
      coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)).as("lo"))
  }

  /** `rows:hash`, with the two half-sums folded into one 64-bit value. */
  def render(row: Row): String = {
    val folded = (row.getLong(1) << 32) + row.getLong(2)
    s"${row.getLong(0)}:${java.lang.Long.toHexString(folded)}"
  }

  def of(df: DataFrame): String = render(frame(df).collect().head)
}
