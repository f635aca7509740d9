package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive digest of a query result: its row count and the
  * 64-bit sum of one hash per row. A row hash covers every column in
  * column-name order, with integers widened to long and floats to double,
  * so the digest depends on the values only, not on row order, column
  * order or integer width (the DuckDB oracle compare makes the same
  * allowances). */
object Digest {
  final case class Value(rows: Long, hash: Long) {
    override def toString: String = f"$rows:$hash%016x"
  }

  /** Runs the DataFrame's own physical plan once and digests its rows. */
  def of(df: DataFrame): Value = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val types = fields.map(_._1.dataType)
    val ordinals = fields.map(_._2)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { row =>
        n += 1
        h += rowHash(row, ordinals, types)
      }
      Iterator((n, h))
    }.collect()
    Value(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  private def combine(h: Long, v: Long): Long = mix(h * 31 + v)

  private def rowHash(row: InternalRow, ordinals: Array[Int],
      types: Array[DataType]): Long = {
    var h = 17L
    var i = 0
    while (i < ordinals.length) {
      val o = ordinals(i)
      h = combine(h, if (row.isNullAt(o)) 0x5bd1e995L else valueHash(row.get(o, types(i)), types(i)))
      i += 1
    }
    h
  }

  private def doubleHash(d: Double): Long =
    mix(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def bytesHash(b: Array[Byte]): Long =
    b.foldLeft(0xcbf29ce484222325L)((h, x) => (h ^ (x & 0xff)) * 0x100000001b3L)

  private def valueHash(v: Any, t: DataType): Long = t match {
    case ByteType => mix(v.asInstanceOf[Byte].toLong)
    case ShortType => mix(v.asInstanceOf[Short].toLong)
    case IntegerType | DateType => mix(v.asInstanceOf[Int].toLong)
    case LongType | TimestampType | TimestampNTZType => mix(v.asInstanceOf[Long])
    case FloatType => doubleHash(v.asInstanceOf[Float].toDouble)
    case DoubleType => doubleHash(v.asInstanceOf[Double])
    case _: DecimalType => doubleHash(v.asInstanceOf[Decimal].toDouble)
    case BooleanType => mix(if (v.asInstanceOf[Boolean]) 1L else 2L)
    case StringType => bytesHash(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => bytesHash(v.asInstanceOf[Array[Byte]])
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).foldLeft(mix(a.numElements().toLong)) { (h, i) =>
        combine(h, if (a.isNullAt(i)) 0x5bd1e995L else valueHash(a.get(i, et), et))
      }
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      (0 until m.numElements()).foldLeft(0L) { (h, i) =>
        h + combine(valueHash(m.keyArray().get(i, kt), kt),
          if (m.valueArray().isNullAt(i)) 0x5bd1e995L
          else valueHash(m.valueArray().get(i, vt), vt))
      }
    case st: StructType =>
      rowHash(v.asInstanceOf[InternalRow], st.fields.indices.toArray,
        st.fields.map(_.dataType))
    case other => bytesHash(String.valueOf(v).getBytes("UTF-8")) ^ other.hashCode
  }
}
