package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result digest: the row count plus two sums of
  * per-row hashes, so the same rows in any order and any partitioning
  * give the same string. Floating-point cells enter at 12 significant
  * digits: the engine's aggregates may add in a different order from
  * run to run, which moves only the last bits.
  */
object Digest {

  private val NullMark = lit("\u0001")

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.12g", c.cast(DoubleType))
    case BinaryType => hex(c)
    case ArrayType(et, _) => transform(c, x => coalesce(canon(x, et), NullMark)).cast(StringType)
    case StructType(fs) =>
      concat_ws("\u0002", fs.toSeq.map(f => coalesce(canon(c.getField(f.name), f.dataType), NullMark)): _*)
    case MapType(kt, vt, _) =>
      canon(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c.cast(StringType)
  }

  /** The one-row frame whose collect is the digest. Column names take
    * part, so a renamed or reordered output column changes the digest.
    */
  def frame(df: DataFrame): DataFrame = {
    val cells = df.schema.fields.toSeq.map(f =>
      coalesce(canon(col(s"`${f.name}`"), f.dataType), NullMark))
    val header = lit(df.schema.fields.map(_.name).mkString(","))
    val h1 = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    val h2 = if (cells.isEmpty) lit(0) else hash(cells: _*)
    df.select(h1.as("h1"), h2.as("h2"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("h1").cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("s1"),
        coalesce(sum(col("h2").cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("s2"))
      .select(concat_ws(":", col("n").cast(StringType), col("s1").cast(StringType),
        col("s2").cast(StringType), sha1(header)).as("digest"))
  }

  /** The row-count-only frame, for results whose cells are not pinned. */
  def countFrame(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).cast(StringType).as("digest"))
}
