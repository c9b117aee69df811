package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a frame: row count, plus the sum and the XOR
  * of one 64-bit hash per row over every column (nested ones included) and
  * every column's null flag.
  * Aggregating the hash of every column forces every column to be
  * computed, so the digest is also the action that materialises the
  * gate's whole output.
  */
object Digest {

  /** `c` with its null flag: `xxhash64` skips null values, so without the
    * flag the rows (null, 5) and (5, null) would hash alike.
    */
  private def marked(c: Column, t: DataType): Column =
    struct(c.isNull.as("null"), hashable(c, t).as("v"))

  private def nested(t: DataType): Boolean = t match {
    case _: StructType | _: ArrayType | _: MapType => true
    case _ => false
  }

  /** `c` in a form `xxhash64` takes, with a null flag on every nested
    * value. Maps cannot be hashed; each becomes its entries sorted by key.
    */
  private def hashable(c: Column, t: DataType): Column = t match {
    case m: MapType =>
      array_sort(transform(map_entries(c), e => struct(
        hashable(e.getField("key"), m.keyType).as("key"),
        marked(e.getField("value"), m.valueType).as("value"))))
    case a: ArrayType if a.containsNull || nested(a.elementType) =>
      transform(c, x => marked(x, a.elementType))
    case s: StructType =>
      struct(s.fields.toIndexedSeq.map(f => marked(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  /** The one-row digest frame over `df`; columns are taken in name order,
    * so the digest does not depend on column order either.
    */
  def frame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val named = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val h = xxhash64(fields.toIndexedSeq.flatMap { case (f, i) =>
      Seq(col(s"_c$i").isNull, hashable(col(s"_c$i"), f.dataType)) }: _*)
    named.select(h.as("h")).agg(
      count(lit(1)).as("n"),
      sum(col("h").cast(DecimalType(38, 0))).as("s"),
      bit_xor(col("h")).as("x"))
  }

  def render(r: Row): String =
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"

  def of(df: DataFrame): String = render(frame(df).collect().head)
}
