package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output fingerprint: row count plus the sum of a
  * per-row xxhash64, so partitioning and task order cannot move it.
  * Floating-point cells are hashed at 9 significant digits: a double
  * aggregate may differ in its last bits with the order partial sums
  * meet, which is not a wrong answer.
  */
object Check {
  final case class Fingerprint(rows: Long, hash: String)

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(e, _) => transform(c, x => canon(x, e))
    case StructType(fs) =>
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), k).as("k"),
          canon(e.getField("value"), v).as("v"))))
    case _ => c
  }

  def fingerprint(df: DataFrame): Fingerprint = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val rowHash =
      if (cols.isEmpty) lit(0L) else xxhash64(struct(cols: _*))
    val r = df.select(count(lit(1)), sum(rowHash.cast("decimal(38,0)")))
      .collect()(0)
    Fingerprint(r.getLong(0),
      Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
