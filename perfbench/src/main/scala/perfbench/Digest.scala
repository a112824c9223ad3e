package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive digest of a query result: the row count plus the
  * sum (mod 2^64) of a 64-bit hash of each row. Summing makes it
  * independent of row order and partitioning while still counting
  * duplicate rows. Columns are taken in name order, so a reordered
  * projection of the same result digests the same. Floating-point values
  * keep their top 36 mantissa bits (about 11 significant digits), so a
  * last-ulp difference from another merge order of partial sums does not
  * read as a wrong answer.
  */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {
  private val Seed = 42L
  private val NullHash = 0x5bd1e995L
  private val KeepBits = ~((1L << 16) - 1)

  def ofDouble(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L // -0.0 and 0.0 are the same answer
    else {
      val bits = java.lang.Double.doubleToRawLongBits(d)
      // Round to nearest on the kept bits, then drop the rest.
      (bits + (1L << 15)) & KeepBits
    }

  def value(v: Any, t: DataType): Long =
    if (v == null) NullHash
    else t match {
      case DoubleType => XXH64.hashLong(ofDouble(v.asInstanceOf[Double]), Seed)
      case FloatType => XXH64.hashLong(ofDouble(v.asInstanceOf[Float].toDouble), Seed)
      case BooleanType => XXH64.hashInt(if (v.asInstanceOf[Boolean]) 1 else 0, Seed)
      case ByteType | ShortType | IntegerType | DateType | _: YearMonthIntervalType =>
        XXH64.hashLong(v.asInstanceOf[Number].longValue, Seed)
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        XXH64.hashLong(v.asInstanceOf[Long], Seed)
      case _: StringType => XXH64.hashUTF8String(v.asInstanceOf[UTF8String], Seed)
      case BinaryType =>
        val b = v.asInstanceOf[Array[Byte]]
        XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                              b.length, Seed)
      case a: ArrayType =>
        val arr = v.asInstanceOf[ArrayData]
        var h = XXH64.hashInt(arr.numElements(), Seed)
        var i = 0
        while (i < arr.numElements()) {
          h = XXH64.hashLong(value(if (arr.isNullAt(i)) null else arr.get(i, a.elementType),
                                   a.elementType), h)
          i += 1
        }
        h
      case s: StructType =>
        val r = v.asInstanceOf[InternalRow]
        s.fields.indices.foldLeft(Seed) { (h, i) =>
          val ft = s.fields(i).dataType
          XXH64.hashLong(value(if (r.isNullAt(i)) null else r.get(i, ft), ft), h)
        }
      case m: MapType =>
        val md = v.asInstanceOf[MapData]
        XXH64.hashLong(value(md.valueArray(), ArrayType(m.valueType)),
                       value(md.keyArray(), ArrayType(m.keyType)))
      case _ => XXH64.hashUTF8String(UTF8String.fromString(v.toString), Seed)
    }

  /** Hash of one row, fields taken in the given order. */
  def row(r: InternalRow, schema: StructType, order: Seq[Int]): Long =
    order.foldLeft(Seed) { (h, i) =>
      val t = schema.fields(i).dataType
      XXH64.hashLong(value(if (r.isNullAt(i)) null else r.get(i, t), t), h)
    }

  def nameOrder(schema: StructType): Seq[Int] =
    schema.fields.indices.sortBy(i => schema.fields(i).name)

  def combine(a: Digest, b: Digest): Digest = Digest(a.rows + b.rows, a.hash + b.hash)

  /** Execute `df`'s own physical plan and digest every row it returns. */
  def of(df: DataFrame): Digest = {
    val schema = df.schema
    val order = nameOrder(schema)
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += row(r, schema, order) }
      Iterator(Digest(n, h))
    }.collect().foldLeft(Digest(0L, 0L))(combine)
  }
}
