package graft.spark.readstat

import java.io.RandomAccessFile
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Bin
import graft.core.stata.{StataParser, StataTypes}
import graft.core.stata.StataTypes._

/** Stata .dta as a Spark format module.
  *
  * Scale design: the data section is fixed-width rows, so partitions are
  * O(1)-seekable row ranges — embarrassingly parallel with no cross-
  * partition state (SURVEY.md §4.2). StataTypes.Metadata and the strL (GSO) table are
  * parsed once per JVM per file (executor-local cache) rather than
  * shipped from the driver, so a 1000-executor scan does 1000 cheap
  * header parses instead of broadcasting a potentially-large strL map.
  */
object StataModule extends FormatModule {

  // ---- per-JVM caches (keyed by path + size + mtime) ----
  private case class FileKey(path: String, size: Long, mtime: Long)
  private def keyOf(path: String) = {
    val f = new java.io.File(path)
    FileKey(path, f.length(), f.lastModified())
  }
  private val mdCache = new ConcurrentHashMap[FileKey, StataTypes.Metadata]()
  private val strlCache = new ConcurrentHashMap[FileKey, Map[(Int, Long), String]]()

  def metadata(path: String): StataTypes.Metadata =
    mdCache.computeIfAbsent(keyOf(path), _ => StataParser.parse(path))

  private def strls(path: String): Map[(Int, Long), String] =
    strlCache.computeIfAbsent(keyOf(path), _ => StataParser.loadStrls(path, metadata(path)))

  /** Label table for a variable, if both the name link and table exist. */
  private def labelMapFor(md: StataTypes.Metadata, v: Variable): Option[Map[Int, String]] =
    v.valueLabelName.flatMap(n => md.valueLabels.find(_.name == n)).map(_.mapping)

  private def isNumeric(v: Variable): Boolean = v.varType match {
    case TStr(_) | TStrL => false
    case _ => true
  }

  /** r13 primitive fast path: unboxed per-row evaluator for the hot
    * pushed shape ([[PushedFilters.asInterval]]). Plain numeric storage
    * evaluates in double space with missing → NaN — a skip on a missing
    * cell is sound (the residual drops null rows anyway), and a NaN
    * DATA cell evaluates under Spark's double ordering exactly like the
    * boxed path. Temporal outputs evaluate in long space where missing
    * → NaN → reject (matching the boxed decoder's missing → null →
    * conjunct-false). Returns null when no primitive path exists
    * (strings, strL, or a storage/outKind pairing the interval space
    * doesn't match) — callers fall back to the generic predicate. */
  private def buildFastPred(iv: PushedFilters.Interval, vt: VarType,
      outKind: OutKind, off: Int, rules: MissingRules,
      little: Boolean): (Array[Byte], Int) => Boolean = {
    val rawD: (Array[Byte], Int) => Double = vt match {
      case TByte => (b, base) => {
        val x = b(base + off).toInt
        if ((rules.sysMissingEnabled && x >= rules.sysInt8) || x > rules.maxInt8)
          Double.NaN
        else x.toDouble
      }
      case TInt => (b, base) => {
        val x = Bin.i16(b, base + off, little).toInt
        if ((rules.sysMissingEnabled && x >= rules.sysInt16) || x > rules.maxInt16)
          Double.NaN
        else x.toDouble
      }
      case TLong => (b, base) => {
        val x = Bin.i32(b, base + off, little)
        if ((rules.sysMissingEnabled && x >= rules.sysInt32) || x > rules.maxInt32)
          Double.NaN
        else x.toDouble
      }
      case TFloat => (b, base) => {
        val bits = Bin.f32bits(b, base + off, little)
        val ubits = bits & 0xffffffffL
        if ((bits & 0x80000000) == 0 && ubits > rules.maxFloatBits) Double.NaN
        else java.lang.Float.intBitsToFloat(bits).toDouble
      }
      case TDouble => (b, base) => {
        val bits = Bin.f64bits(b, base + off, little)
        if ((bits & 0x8000000000000000L) == 0 &&
            java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) > 0)
          Double.NaN
        else java.lang.Double.longBitsToDouble(bits)
      }
      case _ => null
    }
    if (rawD == null) return null
    (iv, outKind) match {
      case (PushedFilters.DoubleInterval(_, lo, loInc, hi, hiInc),
          OByte | OShort | OInt | OFloat | ODouble) =>
        (b, base) => PushedFilters.inDouble(rawD(b, base), lo, loInc, hi, hiInc)
      case (PushedFilters.LongInterval(_, lo, hi), ODate(unit)) =>
        (b, base) => {
          val d = rawD(b, base)
          !d.isNaN && {
            val x =
              StataTypes.stataDateToEpochDays(math.floor(d).toLong, unit).toLong
            x >= lo && x <= hi
          }
        }
      case (PushedFilters.LongInterval(_, lo, hi), ODatetimeMs) =>
        (b, base) => {
          val d = rawD(b, base)
          !d.isNaN && {
            val x = (d.toLong - EpochShiftMs) * 1000L
            x >= lo && x <= hi
          }
        }
      case (PushedFilters.LongInterval(_, lo, hi), OTimeNs) =>
        (b, base) => {
          val d = rawD(b, base)
          !d.isNaN && {
            val dayMs = 86400000L
            val x = (((d.toLong % dayMs) + dayMs) % dayMs) * 1000000L
            x >= lo && x <= hi
          }
        }
      case _ => null
    }
  }

  def sparkTypeOf(md: StataTypes.Metadata, v: Variable, opts: ReadstatOptions): DataType =
    if (opts.valueLabelsAsStrings && isNumeric(v) && labelMapFor(md, v).isDefined)
      StringType
    else v.outKind match {
      case OByte => ByteType
      case OShort => ShortType
      case OInt => IntegerType
      case OFloat => FloatType
      case ODouble => DoubleType
      case OString => StringType
      case ODate(_) => DateType
      case ODatetimeMs => TimestampNTZType
      case OTimeNs =>
        // nanos-of-day either way (TIME(6)'s physical long)
        if (opts.timeAsTimeType) org.apache.spark.sql.types.TimeType(6)
        else LongType
    }

  override def schema(path: String, opts: ReadstatOptions): StructType = {
    val md = metadata(path)
    val fields = Vector.newBuilder[StructField]
    md.variables.foreach { v =>
      val metaB = new MetadataBuilder()
      if (v.outKind == OTimeNs) metaB.putString("readstat.type", "time")
      v.label.foreach(l => metaB.putString("readstat.label", l))
      v.format.foreach(f => metaB.putString("readstat.format", f))
      fields += StructField(v.name, sparkTypeOf(md, v, opts),
        nullable = true, metaB.build())
      if (opts.informativeNulls && isNumeric(v) && opts.infoNullEligible(v.name))
        fields += StructField(v.name + opts.informativeNullSuffix, StringType,
          nullable = true)
    }
    opts.rowIndexName.foreach(n =>
      fields += StructField(n, LongType, nullable = false))
    StructType(fields.result())
  }

  override def exactRowCount(path: String, opts: ReadstatOptions): Option[Long] = {
    val md = metadata(path)
    // only trust the header count if the fixed-width data section is
    // actually present — a truncated file must fall back to the scan,
    // which fails loudly, never to a silent metadata count. v117+ rows
    // start AFTER the 6-byte <data> tag (same geometry as the decoders
    // and salvageableRowCount), so the presence check must include it
    val dataStart = md.dataOffset + (if (md.version >= 117) 6 else 0)
    val need = dataStart + md.nObs * math.max(1, md.rowLen).toLong
    if (new java.io.File(path).length() >= need) Some(md.nObs) else None
  }

  override def planPartitions(path: String, opts: ReadstatOptions,
      limit: Option[Long]): Seq[RangePartition] = {
    val md = metadata(path)
    val total = limit.map(math.min(_, md.nObs)).getOrElse(md.nObs)
    if (total == 0) return Seq(RangePartition(path, 0, 0))
    val rowLen = math.max(1, md.rowLen)
    val rowsPerPart = math.max(1L, opts.partitionTargetBytes / rowLen)
    (0L until total by rowsPerPart).map { start =>
      RangePartition(path, start, math.min(rowsPerPart, total - start))
    }
  }

  /** Fixed-width rows seek in O(1), so OFFSET pushdown is pure range
    * arithmetic: partitions over rows [offset, min(limit, nObs)). */
  override def plansOffset(path: String, opts: ReadstatOptions): Boolean = true

  override def planPartitionsAt(path: String, opts: ReadstatOptions,
      offset: Long, limit: Option[Long]): Option[Seq[RangePartition]] = {
    val md = metadata(path)
    Some(seekableRowRanges(path, opts, offset, limit, md.nObs, md.rowLen))
  }

  /** Truncated-tail arithmetic for `mode=permissive`: the complete
    * fixed-width rows physically present in the data region (capped at
    * the header count). strL files refuse — their GSO heap lives AFTER
    * the data section, so a truncation can leave whole rows present
    * whose strL references dangle; those fall back to the executor-side
    * salvage, which keeps whatever decodes. */
  override def salvageableRowCount(path: String,
      opts: ReadstatOptions): Option[Long] = {
    val md = metadata(path)
    if (md.variables.exists(_.varType == TStrL))
      return None
    val dataStart = md.dataOffset + (if (md.version >= 117) 6 else 0)
    val avail = new java.io.File(path).length() - dataStart
    if (avail < 0) Some(0L)
    else Some(math.min(md.nObs, avail / math.max(1, md.rowLen)))
  }

  /** strL (GSO) reference cell: (v, o) key into the strL table. One
    * definition for the row, columnar and filter-predicate decoders. */
  private def decodeStrlRefIn(b: Array[Byte], off: Int,
      md: StataTypes.Metadata, little: Boolean): (Int, Long) =
    if (md.version >= 118) {
      val useLittle = little || md.version >= 119
      val v = Bin.u16(b, off, useLittle)
      val o =
        if (useLittle)
          (b(off + 2) & 0xffL) | ((b(off + 3) & 0xffL) << 8) |
            ((b(off + 4) & 0xffL) << 16) | ((b(off + 5) & 0xffL) << 24) |
            ((b(off + 6) & 0xffL) << 32) | ((b(off + 7) & 0xffL) << 40)
        else
          ((b(off + 2) & 0xffL) << 40) | ((b(off + 3) & 0xffL) << 32) |
            ((b(off + 4) & 0xffL) << 24) | ((b(off + 5) & 0xffL) << 16) |
            ((b(off + 6) & 0xffL) << 8) | (b(off + 7) & 0xffL)
      (v, o)
    } else (Bin.i32(b, off, little), Bin.u32(b, off + 4, little))

  /** Pushed filters are evaluable whenever the column's decoded output
    * is a plain numeric or string — including label-decoded and
    * indicator columns (their output IS a string the predicate sees).
    * Compress narrowing and overrides reshape types AFTER the module
    * decode (castingBatchIterator), so the decoded value the predicate would
    * see differs from the filter's typed literal → refuse. */
  override def canEvalFilter(path: String, opts: ReadstatOptions,
      filter: org.apache.spark.sql.sources.Filter): Boolean = {
    if (opts.compress || opts.schemaOverrides.nonEmpty) return false
    val types = schema(path, opts).fields.map(f => f.name -> f.dataType).toMap
    PushedFilters.isSupported(filter, types.get)
  }

  /** Per-column tight loops over each fixed-width row chunk: the vt/
    * outKind dispatch happens once per column per batch instead of once
    * per cell, and values land unboxed in OnHeapColumnVectors (mirrors
    * the reference's per-column byte plans, stata/data.rs).
    *
    * Pushed filters (r12): the predicate runs over the raw chunk FIRST
    * — decoding only the filter columns' bytes per row — then passing
    * rows COMPACT into a contiguous buffer and the per-column loops run
    * unchanged over the survivors. Failing rows' non-filter bytes are
    * never decoded; the copy is sequential and cheap next to decode. */
  override def columnarRows(part: RangePartition, opts: ReadstatOptions,
      required: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter])
      : Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

    val md = metadata(part.path)
    val little = md.littleEndian
    val rules = md.rules
    val cs = md.charset
    val rowLen = md.rowLen

    val offsets = new Array[Int](md.nVars)
    var acc = 0
    var vi = 0
    while (vi < md.nVars) {
      offsets(vi) = acc; acc += md.variables(vi).varType.width; vi += 1
    }
    val byName = md.variables.zipWithIndex.map { case (v, i) => v.name -> i }.toMap
    // (varIdx or -1 for row index, byteOff, vt, outKind, label LUT,
    //  indicator flag — informative-null column over the base var)
    val plans: Array[(Int, Int, VarType, OutKind, IntByteLut, Boolean)] =
      required.fields.map { f =>
        if (opts.rowIndexName.contains(f.name))
          (-1, 0, TDouble, ODouble, null, false)
        else {
          val (baseName, indicator) =
            if (opts.informativeNulls && f.name.endsWith(opts.informativeNullSuffix) &&
                byName.contains(f.name.stripSuffix(opts.informativeNullSuffix)) &&
                !byName.contains(f.name))
              (f.name.stripSuffix(opts.informativeNullSuffix), true)
            else (f.name, false)
          val i = byName(baseName)
          val v = md.variables(i)
          // indicator LUT rule: a label defined for
          // the raw missing code wins over the ".a" form when
          // informativeNullUseValueLabels
          val lut =
            if (!indicator && opts.valueLabelsAsStrings && isNumeric(v))
              labelMapFor(md, v).map(new IntByteLut(_)).orNull
            else if (indicator && opts.informativeNullUseValueLabels && isNumeric(v))
              labelMapFor(md, v).map(new IntByteLut(_)).orNull
            else null
          (i, offsets(i), v.varType, v.outKind, lut, indicator)
        }
      }
    val needStrl = plans.exists(p => p._1 >= 0 && p._3 == TStrL && !p._6)
    val strlMap: Map[(Int, Long), String] =
      if (needStrl) strls(part.path) else Map.empty

    // bytes-predicate: per filter column, a decoder from (chunk, rowBase)
    // to the decoded output value — numerics box to Double (the
    // predicate compares on double anyway), strings to UTF8String,
    // temporals (r13) to the Integer-days / Long-micros internal value
    // PushedFilters compares in long space. Labeled columns don't
    // compile; their conjuncts just don't contribute to skipping (the
    // residual Filter still applies).
    val cellDecoders = scala.collection.mutable.ArrayBuffer[(Array[Byte], Int) => Any]()
    val slotIdx = scala.collection.mutable.HashMap[String, Int]()
    if (pushed.nonEmpty) pushed.flatMap(_.references).distinct.foreach { name =>
      byName.get(name).foreach { vi =>
        val v = md.variables(vi)
        val labeled = opts.valueLabelsAsStrings && isNumeric(v) &&
          labelMapFor(md, v).isDefined
        val plainOut = v.outKind match {
          case OByte | OShort | OInt | OFloat | ODouble | OString => true
          case _ => false
        }
        val temporalOut = isNumeric(v) && (v.outKind match {
          case ODate(_) | ODatetimeMs | OTimeNs => true
          case _ => false
        })
        if (!labeled && (plainOut || temporalOut)) {
          val off = offsets(vi)
          val raw: (Array[Byte], Int) => Any = v.varType match {
            case TByte => (b, base) => {
              val x = b(base + off).toInt
              if ((rules.sysMissingEnabled && x >= rules.sysInt8) || x > rules.maxInt8) null
              else java.lang.Double.valueOf(x.toDouble)
            }
            case TInt => (b, base) => {
              val x = Bin.i16(b, base + off, little).toInt
              if ((rules.sysMissingEnabled && x >= rules.sysInt16) || x > rules.maxInt16) null
              else java.lang.Double.valueOf(x.toDouble)
            }
            case TLong => (b, base) => {
              val x = Bin.i32(b, base + off, little)
              if ((rules.sysMissingEnabled && x >= rules.sysInt32) || x > rules.maxInt32) null
              else java.lang.Double.valueOf(x.toDouble)
            }
            case TFloat => (b, base) => {
              val bits = Bin.f32bits(b, base + off, little)
              val ubits = bits & 0xffffffffL
              if ((bits & 0x80000000) == 0 && ubits > rules.maxFloatBits) {
                if (ubits == rules.missFloatBits) null
                else java.lang.Double.valueOf(Double.NaN)
              } else java.lang.Double.valueOf(
                java.lang.Float.intBitsToFloat(bits).toDouble)
            }
            case TDouble => (b, base) => {
              val bits = Bin.f64bits(b, base + off, little)
              if ((bits & 0x8000000000000000L) == 0 &&
                  java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) > 0) {
                if (bits == rules.missDoubleBits) null
                else java.lang.Double.valueOf(Double.NaN)
              } else java.lang.Double.valueOf(
                java.lang.Double.longBitsToDouble(bits))
            }
            case TStr(w) => (b, base) => {
              val s = Bin.zstr(b, base + off, w, cs)
              if (s.isEmpty && opts.missingStringAsNull) null
              else UTF8String.fromString(s)
            }
            case TStrL => (b, base) => {
              val ref = decodeStrlRefIn(b, base + off, md, little)
              strlMap.get(ref) match {
                case Some(s) if !(s.isEmpty && opts.missingStringAsNull) =>
                  UTF8String.fromString(s)
                case _ => null
              }
            }
          }
          // temporal wrap: extended missings surface as NaN from the
          // raw decoder and become null here, matching the output
          val dec: (Array[Byte], Int) => Any = v.outKind match {
            case ODate(unit) => (b, base) => {
              val x = raw(b, base)
              if (x == null) null
              else {
                val d = x.asInstanceOf[java.lang.Double].doubleValue
                if (d.isNaN) null
                else java.lang.Integer.valueOf(
                  StataTypes.stataDateToEpochDays(math.floor(d).toLong, unit))
              }
            }
            case ODatetimeMs => (b, base) => {
              val x = raw(b, base)
              if (x == null) null
              else {
                val d = x.asInstanceOf[java.lang.Double].doubleValue
                if (d.isNaN) null
                else java.lang.Long.valueOf((d.toLong - EpochShiftMs) * 1000L)
              }
            }
            case OTimeNs => (b, base) => {
              val x = raw(b, base)
              if (x == null) null
              else {
                val d = x.asInstanceOf[java.lang.Double].doubleValue
                if (d.isNaN) null
                else {
                  val dayMs = 86400000L
                  java.lang.Long.valueOf(
                    (((d.toLong % dayMs) + dayMs) % dayMs) * 1000000L)
                }
              }
            }
            case _ => raw
          }
          slotIdx(name) = cellDecoders.length
          cellDecoders += dec
        }
      }
    }
    val typeByName = required.fields.map(f => f.name -> f.dataType).toMap
    val bytesPred: PushedFilters.Pred =
      if (pushed.isEmpty || cellDecoders.isEmpty) null
      else PushedFilters.compile(pushed.toSeq, slotIdx.get, typeByName.get).orNull
    // r13 primitive interval fast path: IsNotNull + range conjuncts on
    // ONE plain numeric/temporal column — the overwhelmingly common
    // pushed shape — evaluates with an unboxed decoder and primitive
    // compares. The generic bytesPred pays a boxed megamorphic closure
    // per conjunct per row (memoized to a single decode), which on a
    // narrow projection can cancel the decode-skip win.
    val fastPred: (Array[Byte], Int) => Boolean =
      if (bytesPred == null) null
      else PushedFilters.asInterval(pushed.toSeq, typeByName.get) match {
        case Some(iv) => byName.get(iv.col) match {
          case Some(fvi) =>
            val fv = md.variables(fvi)
            val labeled = opts.valueLabelsAsStrings && isNumeric(fv) &&
              labelMapFor(md, fv).isDefined
            if (labeled) null
            else buildFastPred(iv, fv.varType, fv.outKind, offsets(fvi),
              rules, little)
          case None => null
        }
        case None => null
      }
    val decoders = cellDecoders.toArray
    // projected decode bytes per row, for the compaction gate below
    val projBytes: Long = plans.collect {
      case p if p._1 >= 0 => p._3.width.toLong }.sum

    val raf = new RandomAccessFile(part.path, "r")
    val dataStart = md.dataOffset + (if (md.version >= 117) 6 else 0)
    raf.seek(dataStart + part.startRow * rowLen)
    val chunkRows = math.max(1, math.min(
      if (opts.batchRows > 0) opts.batchRows
      else math.max(1024, (4 << 20) / math.max(1, rowLen)),
      Int.MaxValue)).toInt

    new Iterator[ColumnarBatch] {
      private var remaining = part.numRows
      private var globalRow = part.startRow
      private var closed = false
      private def close(): Unit = if (!closed) { closed = true; raf.close() }

      override def hasNext: Boolean = {
        if (remaining <= 0) close()
        remaining > 0
      }

      // current chunk context for the bytes-predicate getter. Decoded
      // filter cells MEMOIZE per row (stamp array): Catalyst pushes
      // IsNotNull alongside every range conjunct, so a compiled
      // predicate reads the same slot 2-3× per row — without the memo
      // each read re-decodes the cell from bytes (the r13 date-range
      // band paid ~2.7 date decodes/row and measured SLOWER than the
      // unfiltered read).
      private var curBuf: Array[Byte] = _
      private var curBase = 0
      private var predRow = 0L
      private val slotVals = new Array[Any](decoders.length)
      private val slotStamp = Array.fill(decoders.length)(Long.MinValue)
      private val predGetter: Int => Any = slot => {
        if (slotStamp(slot) == predRow) slotVals(slot)
        else {
          val v = decoders(slot)(curBuf, curBase)
          slotVals(slot) = v; slotStamp(slot) = predRow; v
        }
      }
      private def rowPass(buf: Array[Byte], base: Int): Boolean =
        if (fastPred != null) fastPred(buf, base)
        else {
          curBuf = buf; curBase = base; predRow += 1
          bytesPred(predGetter)
        }
      private var predDisabled = false
      private var batchesSinceProbe = 0

      override def next(): ColumnarBatch = {
        val n = math.min(chunkRows.toLong, remaining).toInt
        val buf = new Array[Byte](n * rowLen)
        try raf.readFully(buf)
        catch { case e: Throwable => close(); throw e }
        val startRow = globalRow
        remaining -= n; globalRow += n
        if (remaining <= 0) close()
        // pushed-filter pass: decode ONLY filter cells per row, compact
        // the passing rows' bytes, then run the per-column loops over
        // the survivors — failing rows' other cells are never decoded.
        // Compaction gate: the copy moves selLen×rowLen bytes while the
        // skip saves (n-selLen)×(projected decode + ~16 B/row of
        // downstream ColumnarToRow/Filter work) — at high selectivity
        // with a narrow projection the copy would cost MORE than it
        // saves (a 50%-selective 1-column count got 2× slower without
        // the gate), so such batches emit unfiltered and the Catalyst
        // residual does the filtering alone.
        var data = buf
        var m = n
        var sel: Array[Int] = null
        if (bytesPred != null) {
          if (predDisabled) {
            // periodic re-probe (r13): data sorted on the filter column
            // can turn selective mid-partition — a permanent latch
            // would decode everything for the rest of the file; the
            // probe below costs ~256 cell decodes, so re-arming every
            // 8th batch is effectively free
            batchesSinceProbe += 1
            if (batchesSinceProbe >= 8) predDisabled = false
          }
          if (!predDisabled) {
            // r13 row-sample probe: the r12 warmup decoded filter cells
            // for TWO FULL batches before concluding a 50%-selective
            // filter never compacts (+33% on stata_subset_filter).
            // Estimate selectivity from ≤256 evenly strided rows —
            // ~0.1% of the batch — and run the full pass only when the
            // compaction byte-gate holds on the estimate; the exact
            // per-batch gate stays as the backstop for probe misses.
            val stride = math.max(1, n / 256)
            var samples = 0
            var hits = 0
            var sr = 0
            while (sr < n) {
              if (rowPass(buf, sr * rowLen)) hits += 1
              samples += 1
              sr += stride
            }
            val selEst = n.toLong * hits / math.max(1, samples)
            if (hits == samples ||
                selEst * rowLen >= (n - selEst) * (projBytes + 16)) {
              predDisabled = true
              batchesSinceProbe = 0
            } else {
              val s = new Array[Int](n)
              var selLen = 0
              var r = 0
              while (r < n) {
                if (rowPass(buf, r * rowLen)) { s(selLen) = r; selLen += 1 }
                r += 1
              }
              if (selLen < n &&
                  selLen.toLong * rowLen <
                    (n - selLen).toLong * (projBytes + 16)) {
                val cbuf = new Array[Byte](selLen * rowLen)
                var i = 0
                while (i < selLen) {
                  System.arraycopy(buf, s(i) * rowLen, cbuf, i * rowLen, rowLen)
                  i += 1
                }
                data = cbuf; m = selLen; sel = s
              } else {
                // probe misjudged a borderline batch — ground truth
                // says no compaction; disable and let the re-probe
                // re-arm (the Catalyst residual filters regardless)
                predDisabled = true
                batchesSinceProbe = 0
              }
            }
          }
        }
        val vectors = new Array[ColumnVector](plans.length)
        var c = 0
        while (c < plans.length) {
          val vec = new OnHeapColumnVector(math.max(m, 1), required.fields(c).dataType)
          decodeColumn(plans(c), data, m, startRow, vec, sel)
          vectors(c) = vec
          c += 1
        }
        new ColumnarBatch(vectors, m)
      }

      /** Labeled numeric column → DICTIONARY-encoded string vector
        * (valueLabelsAsStrings): per cell one dictionary-id putInt —
        * the same design as Spark's parquet dictionary read, and the
        * reason labeled decode costs barely more than the raw read
        * (a byte-array append per row measured 1.7× raw; this is
        * ~1.1×). Missing handling:
        * sys/extended missings → null; the float/double "NaN but not
        * the sys-missing pattern" zone renders through the code form
        * ("NaN"); unlabeled codes get per-batch fallback ids. */
      private def decodeLabeled(vt: VarType, off: Int, lut: IntByteLut,
          buf: Array[Byte], n: Int, vec: OnHeapColumnVector): Unit = {
        val dict = new LabelDictionary(lut.baseBytes)
        vec.setDictionary(dict)
        val ids = vec.reserveDictionaryIds(n)
        def putVal(r: Int, d: Double): Unit = {
          if (d == math.floor(d) && !d.isInfinite &&
              math.abs(d) < Int.MaxValue.toDouble) {
            val id = lut.id(d.toInt)
            if (id >= 0) { ids.putInt(r, id); return }
          }
          ids.putInt(r, dict.fallbackId(java.lang.Double.doubleToLongBits(d),
            () => NumRender.code(d).getBytes(
              java.nio.charset.StandardCharsets.UTF_8)))
        }
        // integral codes skip the double floor/range checks entirely —
        // the hot survey shape is an int code column, and the id lookup
        // per cell is then one array load + one putInt
        def putCode(r: Int, code: Int): Unit = {
          val id = lut.id(code)
          if (id >= 0) ids.putInt(r, id)
          else ids.putInt(r,
            dict.fallbackId(java.lang.Double.doubleToLongBits(code.toDouble),
              () => NumRender.code(code.toDouble).getBytes(
                java.nio.charset.StandardCharsets.UTF_8)))
        }
        var r = 0; var p = off
        vt match {
          case TByte =>
            while (r < n) {
              val v = buf(p).toInt
              if ((rules.sysMissingEnabled && v >= rules.sysInt8) || v > rules.maxInt8)
                vec.putNull(r)
              else putCode(r, v)
              r += 1; p += rowLen
            }
          case TInt =>
            while (r < n) {
              val v = Bin.i16(buf, p, little).toInt
              if ((rules.sysMissingEnabled && v >= rules.sysInt16) || v > rules.maxInt16)
                vec.putNull(r)
              else putCode(r, v)
              r += 1; p += rowLen
            }
          case TLong =>
            while (r < n) {
              val v = Bin.i32(buf, p, little)
              if ((rules.sysMissingEnabled && v >= rules.sysInt32) || v > rules.maxInt32)
                vec.putNull(r)
              else putCode(r, v)
              r += 1; p += rowLen
            }
          case TFloat =>
            while (r < n) {
              val bits = Bin.f32bits(buf, p, little)
              val ubits = bits & 0xffffffffL
              if ((bits & 0x80000000) == 0 && ubits > rules.maxFloatBits) {
                if (ubits == rules.missFloatBits) vec.putNull(r)
                else putVal(r, Double.NaN)
              } else putVal(r,
                java.lang.Float.intBitsToFloat(bits).toDouble)
              r += 1; p += rowLen
            }
          case TDouble =>
            while (r < n) {
              val bits = Bin.f64bits(buf, p, little)
              if ((bits & 0x8000000000000000L) == 0 &&
                  java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) > 0) {
                if (bits == rules.missDoubleBits) vec.putNull(r)
                else putVal(r, Double.NaN)
              } else putVal(r,
                java.lang.Double.longBitsToDouble(bits))
              r += 1; p += rowLen
            }
          case _ => // strings never carry numeric labels (plan builds no LUT)
            while (r < n) { vec.putNull(r); r += 1 }
        }
      }

      /** Pre-encoded ".a"-".z" tag strings (shared across batches). */
      private val tagBytes: Array[Array[Byte]] = Array.tabulate(26)(k =>
        ("." + ('a' + k).toChar).getBytes(java.nio.charset.StandardCharsets.UTF_8))

      /** Informative-null indicator column → mostly-null string vector:
        * per cell the extended-missing rule (extended-missing
        * tag k∈1..26 → label-for-raw-code or ".a"-".z"; else null). */
      private def decodeIndicatorCol(vt: VarType, off: Int, lut: IntByteLut,
          buf: Array[Byte], n: Int, vec: OnHeapColumnVector): Unit = {
        if (!rules.sysMissingEnabled) {
          var r = 0
          while (r < n) { vec.putNull(r); r += 1 }
          return
        }
        var r = 0; var p = off
        while (r < n) {
          var raw = Int.MinValue
          val k: Int = vt match {
            case TByte =>
              val v = buf(p).toInt
              raw = v
              if (v >= rules.sysInt8) v - rules.sysInt8 else -1
            case TInt =>
              val v = Bin.i16(buf, p, little).toInt
              raw = v
              if (v >= rules.sysInt16) v - rules.sysInt16 else -1
            case TLong =>
              val v = Bin.i32(buf, p, little)
              raw = v
              if (v >= rules.sysInt32) v - rules.sysInt32 else -1
            case TFloat =>
              val bits = Bin.f32bits(buf, p, little) & 0xffffffffL
              if ((bits & 0x80000000L) == 0 && bits > rules.maxFloatBits)
                ((bits - rules.missFloatBits) >> 11).toInt
              else -1
            case TDouble =>
              val bits = Bin.f64bits(buf, p, little)
              if ((bits & 0x8000000000000000L) == 0 &&
                  java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) > 0)
                ((bits - rules.missDoubleBits) >> 40).toInt
              else -1
            case _ => -1
          }
          if (k >= 1 && k <= 26) {
            var b: Array[Byte] =
              if (lut != null && raw != Int.MinValue) lut.get(raw) else null
            if (b == null) b = tagBytes(k - 1)
            vec.putByteArray(r, b, 0, b.length)
          } else vec.putNull(r)
          r += 1; p += rowLen
        }
      }

      private def decodeColumn(pl: (Int, Int, VarType, OutKind, IntByteLut, Boolean),
          buf: Array[Byte], n: Int, startRow: Long,
          vec: OnHeapColumnVector, sel: Array[Int] = null): Unit = {
        val (varIdx, off, vt, outKind, lut, indicator) = pl
        if (varIdx == -1) { // row index (filtered batches map through sel)
          var r = 0
          if (sel == null) while (r < n) { vec.putLong(r, startRow + r); r += 1 }
          else while (r < n) { vec.putLong(r, startRow + sel(r)); r += 1 }
          return
        }
        if (indicator) { decodeIndicatorCol(vt, off, lut, buf, n, vec); return }
        if (lut != null) { decodeLabeled(vt, off, lut, buf, n, vec); return }
        val plain = outKind match {
          case OByte | OShort | OInt | OFloat | ODouble | OString => true
          case _ => false
        }
        vt match {
          case TByte if plain =>
            var r = 0; var p = off
            while (r < n) {
              val v = buf(p).toInt
              if ((rules.sysMissingEnabled && v >= rules.sysInt8) || v > rules.maxInt8)
                vec.putNull(r)
              else vec.putByte(r, v.toByte)
              r += 1; p += rowLen
            }
          case TInt if plain =>
            var r = 0; var p = off
            while (r < n) {
              val v = Bin.i16(buf, p, little).toInt
              if ((rules.sysMissingEnabled && v >= rules.sysInt16) || v > rules.maxInt16)
                vec.putNull(r)
              else vec.putShort(r, v.toShort)
              r += 1; p += rowLen
            }
          case TLong if plain =>
            var r = 0; var p = off
            while (r < n) {
              val v = Bin.i32(buf, p, little)
              if ((rules.sysMissingEnabled && v >= rules.sysInt32) || v > rules.maxInt32)
                vec.putNull(r)
              else vec.putInt(r, v)
              r += 1; p += rowLen
            }
          case TFloat if plain =>
            var r = 0; var p = off
            while (r < n) {
              val bits = Bin.f32bits(buf, p, little)
              val ubits = bits & 0xffffffffL
              if ((bits & 0x80000000) == 0 && ubits > rules.maxFloatBits) {
                if (ubits == rules.missFloatBits) vec.putNull(r)
                else vec.putFloat(r, Float.NaN)
              } else vec.putFloat(r, java.lang.Float.intBitsToFloat(bits))
              r += 1; p += rowLen
            }
          case TDouble if plain =>
            var r = 0; var p = off
            while (r < n) {
              val bits = Bin.f64bits(buf, p, little)
              if ((bits & 0x8000000000000000L) == 0 &&
                  java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) > 0) {
                if (bits == rules.missDoubleBits) vec.putNull(r)
                else vec.putDouble(r, Double.NaN)
              } else vec.putDouble(r, java.lang.Double.longBitsToDouble(bits))
              r += 1; p += rowLen
            }
          case TStr(w) =>
            var r = 0; var p = off
            while (r < n) {
              val s = Bin.zstr(buf, p, w, cs)
              if (s.isEmpty && opts.missingStringAsNull) vec.putNull(r)
              else {
                val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                vec.putByteArray(r, b, 0, b.length)
              }
              r += 1; p += rowLen
            }
          case TStrL =>
            var r = 0; var p = off
            while (r < n) {
              val ref = decodeStrlRefAt(buf, p)
              strlMap.get(ref) match {
                case Some(s) if !(s.isEmpty && opts.missingStringAsNull) =>
                  val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                  vec.putByteArray(r, b, 0, b.length)
                case _ => vec.putNull(r)
              }
              r += 1; p += rowLen
            }
          case _ =>
            // temporal outKinds: read the numeric as double, then convert
            var r = 0; var p = off
            while (r < n) {
              var missing = false
              var d = 0.0
              vt match {
                case TByte =>
                  val v = buf(p).toInt
                  if ((rules.sysMissingEnabled && v >= rules.sysInt8) || v > rules.maxInt8)
                    missing = true
                  else d = v.toDouble
                case TInt =>
                  val v = Bin.i16(buf, p, little).toInt
                  if ((rules.sysMissingEnabled && v >= rules.sysInt16) || v > rules.maxInt16)
                    missing = true
                  else d = v.toDouble
                case TLong =>
                  val v = Bin.i32(buf, p, little)
                  if ((rules.sysMissingEnabled && v >= rules.sysInt32) || v > rules.maxInt32)
                    missing = true
                  else d = v.toDouble
                case TFloat =>
                  val bits = Bin.f32bits(buf, p, little)
                  val ubits = bits & 0xffffffffL
                  if ((bits & 0x80000000) == 0 && ubits > rules.maxFloatBits) missing = true
                  else d = java.lang.Float.intBitsToFloat(bits).toDouble
                case TDouble =>
                  val bits = Bin.f64bits(buf, p, little)
                  if ((bits & 0x8000000000000000L) == 0 &&
                      java.lang.Long.compareUnsigned(bits, rules.maxDoubleBits) > 0)
                    missing = true
                  else d = java.lang.Double.longBitsToDouble(bits)
                case _ => missing = true
              }
              if (missing || d.isNaN) vec.putNull(r)
              else outKind match {
                case ODate(unit) =>
                  vec.putInt(r,
                    StataTypes.stataDateToEpochDays(math.floor(d).toLong, unit))
                case ODatetimeMs =>
                  vec.putLong(r, (d.toLong - EpochShiftMs) * 1000L)
                case OTimeNs =>
                  val dayMs = 86400000L
                  vec.putLong(r, (((d.toLong % dayMs) + dayMs) % dayMs) * 1000000L)
                case _ => vec.putNull(r)
              }
              r += 1; p += rowLen
            }
        }
      }

      private def decodeStrlRefAt(b: Array[Byte], off: Int): (Int, Long) =
        decodeStrlRefIn(b, off, md, little)
    }
  }
}
