package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row count plus an order-insensitive 64-bit hash of every output value. */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  def hex: String = f"$hash%016x"
}

object Checksum {

  /** Runs the frame's whole physical plan — every output column and the
    * final sort — and hashes the rows where they are produced, so no row
    * travels to the driver. `count()` would let Catalyst prune both.
    */
  def of(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        var d = Digest(0, 0)
        it.foreach(r => d = Digest(d.rows + 1, d.hash + mix(row(r, schema))))
        Iterator.single(d)
      }.fold(Digest(0, 0))(_ + _)
    }
  }

  private def mix(x: Long): Long = {
    var z = x * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def row(r: InternalRow, st: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < st.length) {
      h = mix(h * 31 + (if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, st(i).dataType), st(i).dataType)))
      i += 1
    }
    h
  }

  private def array(a: ArrayData, et: DataType): Long = {
    var h = a.numElements().toLong
    var i = 0
    while (i < a.numElements()) {
      h = mix(h * 31 + (if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, et), et)))
      i += 1
    }
    h
  }

  /** Floating values are hashed at 9 significant digits: summation order
    * across partitions may differ between runs in the last bits, and a
    * difference that small is not a wrong answer.
    */
  private def double(d: Double): Long =
    if (d == 0.0) 0L
    else if (d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d)
    else {
      val e = math.floor(math.log10(math.abs(d))).toInt
      mix(math.rint(d * math.pow(10, 8 - e)).toLong) ^ e
    }

  private def value(v: Any, dt: DataType): Long = dt match {
    case DoubleType => double(v.asInstanceOf[Double])
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType |
         TimestampNTZType => v.asInstanceOf[Number].longValue
    case st: StructType => row(v.asInstanceOf[InternalRow], st)
    case ArrayType(et, _) => array(v.asInstanceOf[ArrayData], et)
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      mix(array(m.keyArray(), kt)) ^ array(m.valueArray(), vt)
    case u: UserDefinedType[_] => value(v, u.sqlType)
    case _: StringType => v.asInstanceOf[UTF8String].hashCode.toLong
    case BinaryType => java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong
    case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.hashCode.toLong
    case _ => v.toString.hashCode.toLong
  }
}
