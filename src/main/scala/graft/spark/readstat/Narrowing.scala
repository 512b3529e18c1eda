package graft.spark.readstat

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Read-side type compression ("compress") and user schema overrides.
  *
  * `compress`: a driver-side probe read of the first N rows infers a
  * narrowed schema (f64 → Boolean/Int8/Int16/Int32 when all probed values
  * fit; Datetime → Date when all-midnight; numeric strings → Double), then
  * every partition casts its decoded vectors. Mirrors the reference's probe
  * inference (pybindings.rs:374-405, 691-717; stata/compress.rs:82-202).
  *
  * `schemaOverrides`: DDL fragment ("a INT, b STRING") replacing the
  * declared types of named columns, applied the same way
  * (reference: __init__.py:536-539).
  */
object Narrowing {

  def parseOverrides(ddl: String): Map[String, DataType] =
    if (ddl == null || ddl.trim.isEmpty) Map.empty
    else StructType.fromDDL(ddl).fields.map(f => f.name -> f.dataType).toMap

  /** Probe-infer narrowed types for a file's schema. */
  def inferNarrowed(module: FormatModule, path: String, opts: ReadstatOptions,
      base: StructType, probeRows: Int): StructType = {
    // clamp to the file's actual rows: fixed-width readers trust the
    // requested range and would hit EOF probing past a short file
    val clamped = module.exactRowCount(path, opts) match {
      case Some(n) => math.min(probeRows.toLong, n)
      case None => probeRows.toLong
    }
    val probe = module.rows(RangePartition(path, 0, clamped), opts.decodeNatural, base)
    val n = base.length
    val isIntegral = Array.fill(n)(true)
    val isBool = Array.fill(n)(true)
    val minV = Array.fill(n)(Double.MaxValue)
    val maxV = Array.fill(n)(Double.MinValue)
    val anyValue = Array.fill(n)(false)
    val allMidnight = Array.fill(n)(true)
    val numericString = Array.fill(n)(true)
    var count = 0
    while (probe.hasNext && count < probeRows) {
      val row = probe.next()
      var i = 0
      while (i < n) {
        if (!row.isNullAt(i)) {
          base.fields(i).dataType match {
            case DoubleType =>
              val d = row.getDouble(i)
              anyValue(i) = true
              if (d != math.rint(d) || d.isNaN || d.isInfinite) {
                isIntegral(i) = false; isBool(i) = false
              } else {
                if (d != 0.0 && d != 1.0) isBool(i) = false
                minV(i) = math.min(minV(i), d); maxV(i) = math.max(maxV(i), d)
              }
            case FloatType =>
              val d = row.getFloat(i).toDouble
              anyValue(i) = true
              if (d != math.rint(d) || d.isNaN) { isIntegral(i) = false; isBool(i) = false }
              else {
                if (d != 0.0 && d != 1.0) isBool(i) = false
                minV(i) = math.min(minV(i), d); maxV(i) = math.max(maxV(i), d)
              }
            case TimestampNTZType =>
              anyValue(i) = true
              if (math.floorMod(row.getLong(i), 86400000000L) != 0L)
                allMidnight(i) = false
            case StringType =>
              anyValue(i) = true
              val s = row.getUTF8String(i).toString
              if (numericString(i) && s.nonEmpty) {
                try { s.toDouble; () } catch { case _: NumberFormatException =>
                  numericString(i) = false }
              }
            case _ => anyValue(i) = true
          }
        }
        i += 1
      }
      count += 1
    }

    // per-family toggles + column restriction (reference
    // CompressOptionsLite: cols / compress_numeric / datetime_to_date /
    // string_to_numeric, applied via compress_df_if_enabled lib.rs:415-433)
    def eligible(f: StructField): Boolean =
      opts.compressCols.isEmpty || opts.compressCols.contains(f.name)
    StructType(base.fields.zipWithIndex.map { case (f, i) =>
      val narrowed: DataType =
        if (!eligible(f)) f.dataType
        else f.dataType match {
          case DoubleType | FloatType
              if opts.compressNumeric && anyValue(i) && isBool(i) => BooleanType
          case DoubleType | FloatType
              if opts.compressNumeric && anyValue(i) && isIntegral(i) =>
            if (minV(i) >= Byte.MinValue && maxV(i) <= Byte.MaxValue) ByteType
            else if (minV(i) >= Short.MinValue && maxV(i) <= Short.MaxValue) ShortType
            else if (minV(i) >= Int.MinValue && maxV(i) <= Int.MaxValue) IntegerType
            else f.dataType
          case TimestampNTZType
              if opts.compressDatetimeToDate && anyValue(i) && allMidnight(i) =>
            DateType
          case StringType
              if opts.compressStringToNumeric && anyValue(i) && numericString(i) =>
            DoubleType
          case other => other
        }
      f.copy(dataType = narrowed)
    })
  }

  /** Batches decode with the format's NATURAL types, then only the
    * columns whose target type differs (compress narrowing, schema
    * overrides, `mergeSchema` widening) are re-materialized through
    * [[castValue]] (strict downcasts throw, string→double parse failures
    * null); same-typed columns pass through by reference, zero copy. */
  def castingBatchIterator(
      it: Iterator[org.apache.spark.sql.vectorized.ColumnarBatch],
      from: StructType, to: StructType)
      : Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
    val n = from.length
    val needs: Array[Int] =
      (0 until n).filter(i => from(i).dataType != to(i).dataType).toArray
    if (needs.isEmpty) return it
    it.map { batch =>
      val rows = batch.numRows()
      val outVec = new Array[OnHeapColumnVector](n)
      needs.foreach { i =>
        outVec(i) = new OnHeapColumnVector(math.max(rows, 1), to(i).dataType)
      }
      var r = 0
      while (r < rows) {
        val row = batch.getRow(r)
        var k = 0
        while (k < needs.length) {
          val i = needs(k)
          val vec = outVec(i)
          if (row.isNullAt(i)) vec.putNull(r)
          else castValue(row, i, from(i).dataType, to(i).dataType) match {
            case null => vec.putNull(r) // string→double parse failure
            case v => putValue(vec, r, to(i).dataType, v)
          }
          k += 1
        }
        r += 1
      }
      val vecs = Array.tabulate[ColumnVector](n) { i =>
        if (outVec(i) != null) outVec(i) else batch.column(i)
      }
      new ColumnarBatch(vecs, rows)
    }
  }

  private def putValue(
      vec: org.apache.spark.sql.execution.vectorized.OnHeapColumnVector,
      r: Int, dt: DataType, v: Any): Unit = dt match {
    case BooleanType => vec.putBoolean(r, v.asInstanceOf[Boolean])
    case ByteType => vec.putByte(r, v.asInstanceOf[Byte])
    case ShortType => vec.putShort(r, v.asInstanceOf[Short])
    case IntegerType | DateType => vec.putInt(r, v.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType | _: TimeType =>
      vec.putLong(r, v.asInstanceOf[Long])
    case FloatType => vec.putFloat(r, v.asInstanceOf[Float])
    case DoubleType => vec.putDouble(r, v.asInstanceOf[Double])
    case StringType =>
      val b = v.asInstanceOf[UTF8String].getBytes
      vec.putByteArray(r, b, 0, b.length)
    case other => throw new IllegalArgumentException(
      s"unsupported readstat columnar cast target $other")
  }

  private def numericOf(row: InternalRow, i: Int, dt: DataType): Double = dt match {
    case DoubleType => row.getDouble(i)
    case FloatType => row.getFloat(i).toDouble
    case ByteType => row.getByte(i).toDouble
    case ShortType => row.getShort(i).toDouble
    case IntegerType => row.getInt(i).toDouble
    case LongType => row.getLong(i).toDouble
    case BooleanType => if (row.getBoolean(i)) 1.0 else 0.0
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }

  private[readstat] def castValue(row: InternalRow, i: Int, from: DataType,
      to: DataType): Any = (from, to) match {
    case (f, t) if f == t => row.get(i, f)
    case (TimestampNTZType, DateType) =>
      math.floorDiv(row.getLong(i), 86400000000L).toInt
    case (DateType, TimestampNTZType) => row.getInt(i).toLong * 86400000000L
    case (StringType, DoubleType) =>
      val s = row.getUTF8String(i).toString
      try java.lang.Double.valueOf(s)
      catch { case _: NumberFormatException => null }
    case (f, StringType) =>
      UTF8String.fromString(String.valueOf(row.get(i, f)))
    case (f: NumericType, t) =>
      castValue2(numericOf(row, i, f), t, f)
    case (BooleanType, t: NumericType) =>
      castValue2(if (row.getBoolean(i)) 1.0 else 0.0, t, BooleanType)
    case (f, t) => throw new IllegalArgumentException(
      s"unsupported readstat cast $f -> $t")
  }

  /** Strict downcast: a value outside the target range throws instead of
    * wrapping (1000.toByte == -24 would silently corrupt rows beyond the
    * compress probe window; the reference relies on Polars strict-cast
    * semantics, which raise). */
  private def strict(d: Double, lo: Double, hi: Double, from: DataType,
      to: DataType): Double = {
    if (d.isNaN || d < lo || d > hi)
      throw new IllegalArgumentException(
        s"readstat cast: value $d does not fit $to (cast from $from); " +
          "the compress probe under-sampled this column — raise " +
          "compressProbeRows, disable compress, or fix the schema override")
    d
  }

  private def castValue2(d: Double, t: DataType, from: DataType): Any = t match {
    case BooleanType => d != 0.0
    case ByteType => strict(d, Byte.MinValue, Byte.MaxValue, from, t).toByte
    case ShortType => strict(d, Short.MinValue, Short.MaxValue, from, t).toShort
    case IntegerType => strict(d, Int.MinValue, Int.MaxValue, from, t).toInt
    // doubles hold every long magnitude up to 2^63 exactly at these bounds
    case LongType => strict(d, -9.223372036854776e18, 9.223372036854776e18, from, t).toLong
    case FloatType => d.toFloat
    case DoubleType => d
    case other => throw new IllegalArgumentException(
      s"unsupported readstat cast $from -> $other")
  }
}
