package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Order-independent output fingerprint: row count plus the sum of a 64-bit
  * hash of every row. Summing is commutative, so two frames holding the same
  * multiset of rows agree no matter how they are partitioned or ordered.
  */
object Fingerprint {

  /** `"<rows>:<hash sum>"`. */
  def of(df: DataFrame): String = {
    val row = df.select(
        count(lit(1)),
        coalesce(sum(rowHash(df).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    s"${row.getLong(0)}:${row.getDecimal(1).toBigInteger}"
  }

  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toSeq.map(f => hashable(col(quote(f.name)), f.dataType)): _*)

  private def quote(name: String) = "`" + name.replace("`", "``") + "`"

  // Spark refuses to hash maps; a map is hashed as its entries in key order.
  private def hashable(c: Column, dt: DataType): Column = dt match {
    case _: MapType => array_sort(map_entries(c))
    case ArrayType(_: MapType, _) => transform(c, x => array_sort(map_entries(x)))
    case s: StructType if s.fields.exists(f => containsMap(f.dataType)) =>
      struct(s.fields.toSeq.map(f => hashable(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case ArrayType(e, _) => containsMap(e)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }
}
