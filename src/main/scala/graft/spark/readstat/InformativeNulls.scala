package graft.spark.readstat

import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

/** The three informative-null output shapes of the reference
  * (reference: src/lib.rs:237-378):
  *
  *  - `column` (default): each eligible column keeps its type and gains a
  *    `<name><suffix>` String indicator column right after it — this is
  *    what the format modules produce natively;
  *  - `struct`: the main column is replaced by
  *    `struct<name: T, null_indicator: string>` — no extra columns;
  *  - `merged`: the main column is replaced by a String column holding
  *    the value's string form for valid rows, the indicator (".a",
  *    "MISSING", …) for user-missing rows, and null for system-missing.
  *
  * Struct/merged are a pure reshaping of the separate-column output, so
  * they live here in the connector layer: the modules always decode
  * separate columns and [[BatchReshape]] combines their vectors.
  */
object InformativeNulls {

  /** (main, indicator) name pairs: fields of `sep` that are absent from
    * `base` and carry the suffix. */
  def pairs(sep: StructType, base: StructType, suffix: String): Seq[(String, String)] = {
    val baseNames = base.fieldNames.toSet
    sep.fieldNames.toSeq
      .filter(n => !baseNames.contains(n) && n.endsWith(suffix) && n != suffix)
      .map(n => (n.stripSuffix(suffix), n))
  }

  /** Reference parity: an indicator name colliding with a real file
    * column is an error, not a silent shadow (lib.rs:185-207). A
    * collision shows up as a duplicate field name in the separate-column
    * schema (modules append `<name><suffix>` unconditionally). */
  def checkCollisions(sep: StructType, suffix: String): Unit = {
    val dup = sep.fieldNames.groupBy(identity).collectFirst {
      case (n, occ) if occ.length > 1 => n
    }
    dup.foreach { n =>
      throw new IllegalArgumentException(
        s"readstat: informative null indicator column '$n' conflicts " +
          "with an existing column; choose a different informativeNullSuffix")
    }
  }

  /** Reshape a separate-column schema into the struct/merged shape. */
  def transformSchema(sep: StructType, prs: Seq[(String, String)],
      mode: String): StructType = {
    val indSet = prs.map(_._2).toSet
    val mains = prs.map(_._1).toSet
    StructType(sep.fields.flatMap { f =>
      if (indSet.contains(f.name)) None
      else if (mains.contains(f.name)) mode match {
        case "struct" => Some(f.copy(dataType = StructType(Seq(
          StructField(f.name, f.dataType, nullable = true),
          StructField("null_indicator", StringType, nullable = true)))))
        case "merged" => Some(f.copy(dataType = StringType))
        case _ => Some(f)
      }
      else Some(f)
    })
  }

  /** `struct` output column: a never-null struct whose two children are
    * a batch's decoded (main, indicator) vectors, shared by reference;
    * the main vector already carries the struct's inner type. */
  final class PairVector(dt: StructType, main: ColumnVector,
      ind: ColumnVector) extends ColumnVector(dt) {
    override def getChild(ordinal: Int): ColumnVector =
      if (ordinal == 0) main else ind
    override def hasNull: Boolean = false
    override def numNulls: Int = 0
    override def isNullAt(rowId: Int): Boolean = false
    override def close(): Unit = { main.close(); ind.close() }
    private def leaf = throw new UnsupportedOperationException(
      "readstat: struct column has no scalar value")
    override def getBoolean(rowId: Int): Boolean = leaf
    override def getByte(rowId: Int): Byte = leaf
    override def getShort(rowId: Int): Short = leaf
    override def getInt(rowId: Int): Int = leaf
    override def getLong(rowId: Int): Long = leaf
    override def getFloat(rowId: Int): Float = leaf
    override def getDouble(rowId: Int): Double = leaf
    override def getArray(rowId: Int): ColumnarArray = leaf
    override def getMap(rowId: Int): ColumnarMap = leaf
    override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal = leaf
    override def getUTF8String(rowId: Int): UTF8String = leaf
    override def getBinary(rowId: Int): Array[Byte] = leaf
  }

  /** `merged` output column: the main value's string form for valid
    * rows, the indicator for user-missing rows, null for system-missing.
    * `mainType` is the main column's natural (decoded) type. */
  def mergedVector(main: ColumnVector, mainType: DataType,
      ind: ColumnVector, rows: Int): ColumnVector = {
    val out = new OnHeapColumnVector(math.max(rows, 1), StringType)
    var r = 0
    while (r < rows) {
      val s =
        if (!main.isNullAt(r)) mergedString(valueAt(main, r, mainType), mainType)
        else if (!ind.isNullAt(r)) ind.getUTF8String(r)
        else null
      if (s == null) out.putNull(r)
      else { val b = s.getBytes; out.putByteArray(r, b, 0, b.length) }
      r += 1
    }
    out
  }

  private def valueAt(v: ColumnVector, r: Int, dt: DataType): Any = dt match {
    case StringType => v.getUTF8String(r)
    case BooleanType => v.getBoolean(r)
    case ByteType => v.getByte(r)
    case ShortType => v.getShort(r)
    case IntegerType | DateType => v.getInt(r)
    case FloatType => v.getFloat(r)
    case DoubleType => v.getDouble(r)
    case _ => v.getLong(r) // long, timestamps, time of day
  }

  /** String form of a valid value for merged mode (Polars-like cast). */
  private def mergedString(v: Any, dt: DataType): UTF8String = dt match {
    case StringType => v.asInstanceOf[UTF8String]
    case DateType =>
      UTF8String.fromString(
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString)
    case TimestampNTZType =>
      val micros = v.asInstanceOf[Long]
      UTF8String.fromString(java.time.LocalDateTime.ofEpochSecond(
        math.floorDiv(micros, 1000000L), math.floorMod(micros, 1000000L).toInt * 1000,
        java.time.ZoneOffset.UTC).toString)
    case _ => UTF8String.fromString(String.valueOf(v))
  }
}
