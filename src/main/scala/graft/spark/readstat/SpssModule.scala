package graft.spark.readstat

import java.io.{BufferedInputStream, FileInputStream, RandomAccessFile}
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.InflaterInputStream

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Bin
import graft.core.spss.SpssCore
import graft.core.spss.SpssCore._

/** SPSS .sav/.zsav as a Spark format module.
  *
  * Partitioning regimes (SURVEY.md §4.2): uncompressed sav → O(1)-seek
  * row-range partitions. Bytecode (compression=1) and zsav carry decoder
  * state across rows, so random seeks are impossible — instead the
  * driver skims the stream ONCE at planning time (control bytes only, no
  * row materialization; zsav additionally inflates each block once,
  * which the trailer's block index makes independent — reference:
  * src/spss/data.rs:205-355) and records a [[SavCheckpoint]] every
  * partition-worth of rows. Executors then resume decoding from their
  * checkpoint, inflating only their own blocks — a 1000-executor scan
  * does one sequential skim plus N independent range decodes, instead of
  * one task decoding everything.
  */
object SpssModule extends FormatModule {

  private case class FileKey(path: String, size: Long, mtime: Long)
  private def keyOf(path: String) = {
    val f = new java.io.File(path)
    FileKey(path, f.length(), f.lastModified())
  }
  private val mdCache = new ConcurrentHashMap[FileKey, SpssMeta]()
  def metadata(path: String): SpssMeta =
    mdCache.computeIfAbsent(keyOf(path), _ => SpssCore.parse(path))

  /** Row-boundary checkpoints for a compressed stream, every `k` rows. */
  private case class SavIndex(totalRows: Long, checkpoints: IndexedSeq[SavCheckpoint])
  private val savIndexCache = new ConcurrentHashMap[(FileKey, Long), SavIndex]()
  private def savIndex(path: String, md: SpssMeta, k: Long): SavIndex =
    savIndexCache.computeIfAbsent((keyOf(path), k), _ => buildSavIndex(path, md, k))

  def sparkTypeOf(v: SpssVar, opts: ReadstatOptions): DataType =
    if (v.isString) StringType
    else if (opts.valueLabelsAsStrings && v.numLabels.nonEmpty) StringType
    else v.formatClass match {
      case Some("Date") => DateType
      case Some("DateTime") => TimestampNTZType
      case Some("Time") =>
        if (opts.timeAsTimeType) org.apache.spark.sql.types.TimeType(6)
        else LongType
      case _ => DoubleType
    }

  override def schema(path: String, opts: ReadstatOptions): StructType = {
    val md = metadata(path)
    val fields = Vector.newBuilder[StructField]
    md.vars.foreach { v =>
      val mb = new MetadataBuilder()
      if (v.formatClass.contains("Time")) mb.putString("readstat.type", "time")
      v.label.foreach(l => mb.putString("readstat.label", l))
      mb.putLong("readstat.format_type", v.formatType.toLong)
      fields += StructField(v.name, sparkTypeOf(v, opts), nullable = true, mb.build())
      // reference eligibility (lib.rs informative_null_pairs): numeric
      // vars, plus string vars with declared missing values
      if (opts.informativeNulls && (!v.isString || v.missingStrings.nonEmpty) &&
          opts.infoNullEligible(v.name))
        fields += StructField(v.name + opts.informativeNullSuffix, StringType,
          nullable = true)
    }
    opts.rowIndexName.foreach(n => fields += StructField(n, LongType, nullable = false))
    StructType(fields.result())
  }

  /** Row count, resolving an unknown header count for uncompressed files
    * from the data-section size. */
  def rowCount(path: String, md: SpssMeta): Long =
    if (md.nCases >= 0) md.nCases
    else if (md.compression == 0 && md.recordLen > 0)
      (new java.io.File(path).length() - md.dataOffset) / md.recordLen
    else Long.MaxValue // unknown: sequential read until end marker

  override def exactRowCount(path: String, opts: ReadstatOptions): Option[Long] = {
    // never trust a header count blindly: a truncated file must fall back
    // to the scan (which fails loudly), not return a silent metadata count
    val md = metadata(path)
    if (md.compression == 0) {
      val n = rowCount(path, md)
      if (n == Long.MaxValue) return None
      val need = md.dataOffset + n * math.max(1, md.recordLen).toLong
      if (new java.io.File(path).length() >= need) Some(n) else None
    } else if (md.compression == 2 && md.nCases >= 0) {
      // zsav: the trailer block index is at EOF, so reading it (and
      // checking every block lies within the file) is itself the
      // truncation probe — a cut file throws or fails the bound
      try {
        val (entries, _) = zsavEntries(path, md)
        val fileLen = new java.io.File(path).length()
        if (entries.nonEmpty &&
            entries.forall { case (ofs, _, csz) => ofs + csz <= fileLen })
          Some(md.nCases)
        else None
      } catch { case _: Exception => None }
    } else None // bytecode: variable-length stream, not verifiable without a skim
  }

  /** Truncated-tail arithmetic for `mode=permissive`, uncompressed
    * regime only: complete fixed-`recordLen` rows physically present,
    * capped at the header count. Bytecode/zsav refuse — their row
    * boundaries aren't knowable without decoding; the executor-side
    * salvage keeps whatever their streams yield before the damage. */
  override def salvageableRowCount(path: String,
      opts: ReadstatOptions): Option[Long] = {
    val md = metadata(path)
    if (md.compression != 0 || md.recordLen <= 0) return None
    val avail = new java.io.File(path).length() - md.dataOffset
    val phys = if (avail < 0) 0L else avail / md.recordLen
    val declared = rowCount(path, md)
    Some(if (declared == Long.MaxValue) phys else math.min(declared, phys))
  }

  override def planPartitions(path: String, opts: ReadstatOptions,
      limit: Option[Long]): Seq[RangePartition] = {
    val md = metadata(path)
    val n0 = rowCount(path, md)
    val rowsPerPart = math.max(1L, opts.partitionTargetBytes / math.max(1, md.recordLen))
    if (md.compression == 0) {
      val total = limit.map(math.min(_, n0)).getOrElse(n0)
      if (total == 0) return Seq(RangePartition(path, 0, 0))
      return (0L until total by rowsPerPart).map { s =>
        RangePartition(path, s, math.min(rowsPerPart, total - s))
      }
    }
    // compressed (bytecode/zsav): sequential single range when it is
    // small or cheaply bounded — otherwise build the checkpoint index
    // and emit resumable range partitions
    val boundKnown = n0 != Long.MaxValue
    val bounded = limit.map(l => if (boundKnown) math.min(l, n0) else l)
      .getOrElse(if (boundKnown) n0 else Long.MaxValue)
    if (bounded <= rowsPerPart)
      return Seq(RangePartition(path, 0, bounded))
    // mode=permissive: a damaged file can fail the index skim (zsav's
    // block trailer lives at EOF — exactly what a truncated download
    // loses). Degrade to ONE sequential partition so the executor-side
    // salvage still recovers the decodable prefix, instead of the
    // planner dropping the whole file.
    val idx = try savIndex(path, md, rowsPerPart) catch {
      case scala.util.control.NonFatal(_) if opts.salvage =>
        return Seq(RangePartition(path, 0, bounded))
    }
    val total = math.min(bounded, idx.totalRows)
    if (total == 0) return Seq(RangePartition(path, 0, 0))
    (0L until total by rowsPerPart).map { s =>
      RangePartition(path, s, math.min(rowsPerPart, total - s),
        Some(idx.checkpoints((s / rowsPerPart).toInt)))
    }
  }

  /** OFFSET pushdown for ALL three regimes (r14 — the reference's
    * slice pushdown reaches every format, __init__.py:631-661).
    * Uncompressed rows are fixed `recordLen` bytes and seek in O(1).
    * Bytecode/zsav streams cannot seek to a row, but they CAN resume
    * at a checkpoint of the same index the parallel scan already
    * builds, then decode-forward the ≤rowsPerPart mid-interval
    * remainder ([[RangePartition.skipRows]]); small files skip the
    * index entirely and decode-skip from the data start — either way
    * the skipped prefix never materializes strings, missing rules or
    * boxed cells, only the command-stream expansion. */
  override def plansOffset(path: String, opts: ReadstatOptions): Boolean = true

  override def planPartitionsAt(path: String, opts: ReadstatOptions,
      offset: Long, limit: Option[Long]): Option[Seq[RangePartition]] = {
    val md = metadata(path)
    if (md.compression == 0)
      return Some(seekableRowRanges(path, opts, offset, limit,
        rowCount(path, md), md.recordLen))
    val off0 = math.max(0L, offset)
    val rowsPerPart =
      math.max(1L, opts.partitionTargetBytes / math.max(1, md.recordLen))
    if (new java.io.File(path).length() < 2 * opts.partitionTargetBytes) {
      // single sequential partition; the row source's toSkip consumes
      // startRow rows before emitting (numRows caps AFTER the skip,
      // `limit` is an absolute row cap from file start)
      val numRows = limit.map(l => math.max(0L, l - off0)).getOrElse(Long.MaxValue)
      return Some(Seq(RangePartition(path, off0, numRows)))
    }
    val idx = savIndex(path, md, rowsPerPart)
    val total = limit.map(math.min(_, idx.totalRows)).getOrElse(idx.totalRows)
    val start0 = math.min(off0, total)
    if (total - start0 <= 0) return Some(Seq(RangePartition(path, start0, 0)))
    val i0 = (start0 / rowsPerPart).toInt
    val first = RangePartition(path, start0,
      math.min((i0 + 1) * rowsPerPart, total) - start0,
      Some(idx.checkpoints(i0)), skipRows = start0 - i0 * rowsPerPart)
    val rest = ((i0 + 1) * rowsPerPart until total by rowsPerPart).map { s =>
      RangePartition(path, s, math.min(rowsPerPart, total - s),
        Some(idx.checkpoints((s / rowsPerPart).toInt)))
    }
    Some(first +: rest)
  }

  /** Same rule as StataModule: predicates evaluate on decoded output
    * values, so anything that lands numeric or string qualifies;
    * compress narrowing / overrides reshape types post-decode → refuse. */
  override def canEvalFilter(path: String, opts: ReadstatOptions,
      filter: org.apache.spark.sql.sources.Filter): Boolean = {
    if (opts.compress || opts.schemaOverrides.nonEmpty) return false
    val types = schema(path, opts).fields.map(f => f.name -> f.dataType).toMap
    PushedFilters.isSupported(filter, types.get)
  }

  private def isUserMissing(v: SpssVar, d: Double, bits: Long): Boolean = {
    if (v.missingDoubles.isEmpty) false
    else if (v.missingRange) {
      val inRange = v.missingDoubles.length >= 2 && {
        val lo = math.min(v.missingDoubles(0), v.missingDoubles(1))
        val hi = math.max(v.missingDoubles(0), v.missingDoubles(1))
        d >= lo && d <= hi
      }
      inRange || (v.missingDoubles.length >= 3 && d == v.missingDoubles(2))
    } else v.missingDoubles.contains(d)
  }

  /** Per-column tight loops over fixed-width record chunks. Uncompressed
    * files chunk-read straight off an O(1) seek; bytecode/zsav partitions
    * decompress through their checkpointed RowSource into the same
    * recordLen-strided chunk buffer.
    *
    * Pushed filters (r12): filter cells evaluate over the raw chunk
    * first, passing rows compact into a contiguous buffer, and the
    * per-column loops run over the survivors (see StataModule — same
    * compaction design). */
  override def columnarRows(part: RangePartition, opts: ReadstatOptions,
      required: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter])
      : Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

    val md = metadata(part.path)
    val recordLen = md.recordLen
    val byName = md.vars.zipWithIndex.map { case (v, i) => v.name -> i }.toMap
    // (var or null for row index, numeric label LUT or null,
    //  string-label flag, indicator flag)
    val plans: Array[(SpssVar, DoubleByteLut, Boolean, Boolean)] =
      required.fields.map { f =>
        if (opts.rowIndexName.contains(f.name)) (null, null, false, false)
        else {
          val (base, ind) =
            if (opts.informativeNulls && f.name.endsWith(opts.informativeNullSuffix) &&
                byName.contains(f.name.stripSuffix(opts.informativeNullSuffix)) &&
                !byName.contains(f.name))
              (f.name.stripSuffix(opts.informativeNullSuffix), true)
            else (f.name, false)
          val v = md.vars(byName(base))
          // indicator numeric LUT: a value label for the missing code
          // beats the code/"MISSING" form when useValueLabels
          // (reference data.rs missing_numeric_indicator)
          val numLut =
            if (!ind && opts.valueLabelsAsStrings && !v.isString && v.numLabels.nonEmpty)
              new DoubleByteLut(v.numLabels)
            else if (ind && opts.informativeNullUseValueLabels && !v.isString &&
                v.numLabels.nonEmpty)
              new DoubleByteLut(v.numLabels)
            else null
          val strLab = !ind && opts.valueLabelsAsStrings && v.isString &&
            v.strLabels.nonEmpty
          (v, numLut, strLab, ind)
        }
      }
    // bytes-predicate over filter cells (plain numeric/string shapes
    // plus, r13, temporals — they box the Integer-days / Long-micros
    // internal value PushedFilters compares in long space; labeled
    // columns don't compile — their conjuncts simply don't contribute
    // to skipping, the residual Filter still applies)
    val cellDecoders = scala.collection.mutable.ArrayBuffer[(Array[Byte], Int) => Any]()
    val slotIdx = scala.collection.mutable.HashMap[String, Int]()
    if (pushed.nonEmpty) pushed.flatMap(_.references).distinct.foreach { name =>
      byName.get(name).foreach { vi =>
        val v = md.vars(vi)
        val labeled = opts.valueLabelsAsStrings &&
          ((!v.isString && v.numLabels.nonEmpty) ||
            (v.isString && v.strLabels.nonEmpty))
        if (!labeled) {
          val off = v.offsetUnits * 8
          val dec: (Array[Byte], Int) => Any =
            if (v.isString) {
              val storage = v.widthUnits * 8
              (b, base) => {
                val raw =
                  if (v.stringLen > 255)
                    SpssCore.reconstructVeryLong(b, base + off, storage, v.stringLen)
                  else java.util.Arrays.copyOfRange(b, base + off,
                    base + off + math.min(v.stringLen, storage))
                val s = SpssCore.trimSav(new String(raw, md.charset))
                if ((opts.missingStringAsNull && s.isEmpty) ||
                    v.missingStrings.contains(s)) null
                else UTF8String.fromString(s)
              }
            } else {
              val numDec: (Array[Byte], Int) => Any = (b, base) => {
                val bits = Bin.i64(b, base + off, md.little)
                val d = java.lang.Double.longBitsToDouble(bits)
                val sysMissing = bits == MissingBits || bits == LowestBits ||
                  bits == HighestBits || d.isNaN
                if (sysMissing || isUserMissing(v, d, bits)) null
                else java.lang.Double.valueOf(d)
              }
              // temporal wrap to the declared output type
              sparkTypeOf(v, opts) match {
                case DateType => (b, base) => {
                  val x = numDec(b, base)
                  if (x == null) null
                  else java.lang.Integer.valueOf(
                    ((x.asInstanceOf[java.lang.Double].doubleValue.toLong -
                      SecShift) / 86400L).toInt)
                }
                case TimestampNTZType => (b, base) => {
                  val x = numDec(b, base)
                  if (x == null) null
                  else java.lang.Long.valueOf(math.round(
                    (x.asInstanceOf[java.lang.Double].doubleValue - SecShift)
                      * 1000.0) * 1000L)
                }
                case LongType | _: org.apache.spark.sql.types.TimeType =>
                  (b, base) => {
                    val x = numDec(b, base)
                    if (x == null) null
                    else java.lang.Long.valueOf(math.round(
                      x.asInstanceOf[java.lang.Double].doubleValue * 1e9))
                  }
                case _ => numDec
              }
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
    // r13 primitive interval fast path (see StataModule): the hot
    // IsNotNull + range shape on one numeric/temporal column evaluates
    // unboxed — missing (incl. SPSS user-missing) → NaN in double
    // space / reject in long space, both skip-sound under the residual.
    val fastPred: (Array[Byte], Int) => Boolean =
      if (bytesPred == null) null
      else PushedFilters.asInterval(pushed.toSeq, typeByName.get) match {
        case Some(iv) => byName.get(iv.col) match {
          case Some(fvi) =>
            val fv = md.vars(fvi)
            val labeled = opts.valueLabelsAsStrings &&
              ((!fv.isString && fv.numLabels.nonEmpty) ||
                (fv.isString && fv.strLabels.nonEmpty))
            if (labeled || fv.isString) null
            else {
              val off = fv.offsetUnits * 8
              val rawD: (Array[Byte], Int) => Double = (b, base) => {
                val bits = Bin.i64(b, base + off, md.little)
                val d = java.lang.Double.longBitsToDouble(bits)
                if (bits == MissingBits || bits == LowestBits ||
                    bits == HighestBits || d.isNaN ||
                    isUserMissing(fv, d, bits)) Double.NaN
                else d
              }
              (iv, sparkTypeOf(fv, opts)) match {
                case (PushedFilters.DoubleInterval(_, lo, loInc, hi, hiInc), _) =>
                  (b, base) =>
                    PushedFilters.inDouble(rawD(b, base), lo, loInc, hi, hiInc)
                case (PushedFilters.LongInterval(_, lo, hi), DateType) =>
                  (b, base) => {
                    val d = rawD(b, base)
                    !d.isNaN && {
                      val x = ((d.toLong - SecShift) / 86400L).toInt.toLong
                      x >= lo && x <= hi
                    }
                  }
                case (PushedFilters.LongInterval(_, lo, hi), TimestampNTZType) =>
                  (b, base) => {
                    val d = rawD(b, base)
                    !d.isNaN && {
                      val x = math.round((d - SecShift) * 1000.0) * 1000L
                      x >= lo && x <= hi
                    }
                  }
                case (PushedFilters.LongInterval(_, lo, hi),
                    _: org.apache.spark.sql.types.TimeType) =>
                  (b, base) => {
                    val d = rawD(b, base)
                    !d.isNaN && {
                      val x = math.round(d * 1e9)
                      x >= lo && x <= hi
                    }
                  }
                case _ => null
              }
            }
          case None => null
        }
        case None => null
      }
    val decoders = cellDecoders.toArray
    // projected decode bytes per row, for the compaction gate below
    val projBytes: Long = plans.collect {
      case (v, _, _, _) if v != null =>
        (if (v.isString) v.widthUnits * 8 else 8).toLong }.sum

    val chunkRows = math.max(1, (4 << 20) / math.max(1, recordLen))
    // uncompressed: bulk reads off a seek; compressed: checkpointed
    // sequential decompression through a RowSource
    val raf = if (md.compression == 0) {
      val r = new RandomAccessFile(part.path, "r")
      r.seek(md.dataOffset + part.startRow * recordLen)
      r
    } else null
    val rowSource: RowSource = md.compression match {
      case 0 => null
      case 1 => new BytecodeRowSource(part, md)
      case 2 => new ZsavRowSource(part, md, opts.salvage)
      case other => throw new IllegalArgumentException(s"sav compression $other")
    }

    new Iterator[ColumnarBatch] {
      private var remaining = part.numRows
      private var globalRow = part.startRow
      private var closed = false
      private def close(): Unit =
        if (!closed) { closed = true; if (raf != null) raf.close() }

      override def hasNext: Boolean = {
        if (remaining <= 0) close()
        remaining > 0
      }

      override def next(): ColumnarBatch = {
        var n = math.min(chunkRows.toLong, remaining).toInt
        val buf = new Array[Byte](n * recordLen)
        if (raf != null) raf.readFully(buf)
        else {
          // assemble the chunk from decompressed rows; the source
          // null-terminates at EOF (checkpoint row counts are exact,
          // this only tolerates truncated files)
          var i = 0
          var eof = false
          while (i < n && !eof) {
            val ok =
              try rowSource.nextRowInto(buf, i * recordLen)
              catch { case e: Throwable => rowSource.close(); throw e }
            if (ok) i += 1 else eof = true
          }
          if (i < n) { n = i; remaining = n.toLong }
        }
        val startRow = globalRow
        remaining -= n; globalRow += n
        if (remaining <= 0) close()
        // pushed-filter pass: evaluate on filter cells, compact the
        // survivors — gated by the same byte model as StataModule (a
        // high-selectivity batch with a narrow projection emits
        // unfiltered; the Catalyst residual filters it)
        var data = buf
        var m = n
        var sel: Array[Int] = null
        if (bytesPred != null) {
          if (predDisabled) {
            // periodic re-probe, same rationale as StataModule (r13)
            batchesSinceProbe += 1
            if (batchesSinceProbe >= 8) predDisabled = false
          }
          if (!predDisabled) {
            // r13 row-sample probe before the full pass, same design
            // as StataModule: ≤256 strided rows estimate selectivity;
            // the exact per-batch gate below stays as the backstop
            val stride = math.max(1, n / 256)
            var samples = 0
            var hits = 0
            var sr = 0
            while (sr < n) {
              if (rowPass(buf, sr * recordLen)) hits += 1
              samples += 1
              sr += stride
            }
            val selEst = n.toLong * hits / math.max(1, samples)
            if (hits == samples ||
                selEst * recordLen >= (n - selEst) * (projBytes + 16)) {
              predDisabled = true
              batchesSinceProbe = 0
            } else {
              val s = new Array[Int](n)
              var selLen = 0
              var r = 0
              while (r < n) {
                if (rowPass(buf, r * recordLen)) { s(selLen) = r; selLen += 1 }
                r += 1
              }
              if (selLen < n &&
                  selLen.toLong * recordLen <
                    (n - selLen).toLong * (projBytes + 16)) {
                val cbuf = new Array[Byte](selLen * recordLen)
                var i = 0
                while (i < selLen) {
                  System.arraycopy(buf, s(i) * recordLen, cbuf, i * recordLen, recordLen)
                  i += 1
                }
                data = cbuf; m = selLen; sel = s
              } else {
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
          decodeColumn(plans(c), required.fields(c).dataType, data, m, startRow, vec, sel)
          vectors(c) = vec
          c += 1
        }
        new ColumnarBatch(vectors, m)
      }

      // current chunk context for the bytes-predicate getter; decoded
      // filter cells memoize per row — Catalyst pushes IsNotNull
      // alongside every range conjunct, so a compiled predicate reads
      // the same slot 2-3× per row (see StataModule)
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

      private val missingBytes =
        "MISSING".getBytes(java.nio.charset.StandardCharsets.UTF_8)

      /** Informative-null indicator → mostly-null string vector. */
      private def decodeIndicatorCol(v: SpssVar, numLut: DoubleByteLut,
          buf: Array[Byte], n: Int, vec: OnHeapColumnVector): Unit = {
        val off = v.offsetUnits * 8
        if (v.isString) {
          val storage = v.widthUnits * 8
          var r = 0; var base = 0
          while (r < n) {
            val raw =
              if (v.stringLen > 255)
                SpssCore.reconstructVeryLong(buf, base + off, storage, v.stringLen)
              else java.util.Arrays.copyOfRange(buf, base + off,
                base + off + math.min(v.stringLen, storage))
            val s = SpssCore.trimSav(new String(raw, md.charset))
            if (v.missingStrings.contains(s)) {
              val lbl = if (opts.informativeNullUseValueLabels)
                v.strLabels.get(s) else None
              val b = lbl.getOrElse(s)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              vec.putByteArray(r, b, 0, b.length)
            } else vec.putNull(r)
            r += 1; base += recordLen
          }
        } else {
          var r = 0; var p = off
          while (r < n) {
            val bits = Bin.i64(buf, p, md.little)
            val d = java.lang.Double.longBitsToDouble(bits)
            val sysMissing = bits == MissingBits || bits == LowestBits ||
              bits == HighestBits || d.isNaN
            if (sysMissing || !isUserMissing(v, d, bits)) vec.putNull(r)
            else {
              var b: Array[Byte] = if (numLut != null) numLut.get(d) else null
              if (b == null)
                b = if (v.missingRange &&
                    !(v.missingDoubles.length >= 3 && d == v.missingDoubles(2)))
                  missingBytes
                else NumRender.code(d).getBytes(
                  java.nio.charset.StandardCharsets.UTF_8)
              vec.putByteArray(r, b, 0, b.length)
            }
            r += 1; p += recordLen
          }
        }
      }

      private def decodeColumn(pl: (SpssVar, DoubleByteLut, Boolean, Boolean),
          dt: DataType, buf: Array[Byte],
          n: Int, startRow: Long, vec: OnHeapColumnVector,
          sel: Array[Int] = null): Unit = {
        val (v, numLut, strLab, indicator) = pl
        if (v == null) { // row index (filtered batches map through sel)
          var r = 0
          if (sel == null) while (r < n) { vec.putLong(r, startRow + r); r += 1 }
          else while (r < n) { vec.putLong(r, startRow + sel(r)); r += 1 }
          return
        }
        if (indicator) { decodeIndicatorCol(v, numLut, buf, n, vec); return }
        val off = v.offsetUnits * 8
        if (v.isString) {
          val storage = v.widthUnits * 8
          var r = 0; var base = 0
          while (r < n) {
            val raw =
              if (v.stringLen > 255)
                SpssCore.reconstructVeryLong(buf, base + off, storage, v.stringLen)
              else java.util.Arrays.copyOfRange(buf, base + off,
                base + off + math.min(v.stringLen, storage))
            val s = SpssCore.trimSav(new String(raw, md.charset))
            if ((opts.missingStringAsNull && s.isEmpty) || v.missingStrings.contains(s))
              vec.putNull(r)
            else {
              // string value labels decode in place: a label beats the
              // stored value, unlabeled values pass
              val out = if (strLab) v.strLabels.getOrElse(s, s) else s
              val b = out.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              vec.putByteArray(r, b, 0, b.length)
            }
            r += 1; base += recordLen
          }
        } else if (numLut != null) {
          // labeled numeric → DICTIONARY-encoded string vector: one id
          // putInt per cell (parquet-dictionary design; a byte-array
          // append per row measured 1.7× the raw read, this is ~1.1×);
          // unlabeled codes get per-batch fallback ids
          val dict = new LabelDictionary(numLut.baseBytes)
          vec.setDictionary(dict)
          val dictIds = vec.reserveDictionaryIds(n)
          var r = 0; var p = off
          while (r < n) {
            val bits = Bin.i64(buf, p, md.little)
            val d = java.lang.Double.longBitsToDouble(bits)
            val sysMissing = bits == MissingBits || bits == LowestBits ||
              bits == HighestBits || d.isNaN
            if (sysMissing || isUserMissing(v, d, bits)) vec.putNull(r)
            else {
              val id = numLut.id(d)
              if (id >= 0) dictIds.putInt(r, id)
              else dictIds.putInt(r,
                dict.fallbackId(java.lang.Double.doubleToLongBits(d),
                  () => NumRender.code(d).getBytes(
                    java.nio.charset.StandardCharsets.UTF_8)))
            }
            r += 1; p += recordLen
          }
        } else {
          var r = 0; var p = off
          while (r < n) {
            val bits = Bin.i64(buf, p, md.little)
            val d = java.lang.Double.longBitsToDouble(bits)
            val sysMissing = bits == MissingBits || bits == LowestBits ||
              bits == HighestBits || d.isNaN
            if (sysMissing || isUserMissing(v, d, bits)) vec.putNull(r)
            else dt match {
              case DateType => vec.putInt(r, ((d.toLong - SecShift) / 86400L).toInt)
              case TimestampNTZType =>
                vec.putLong(r, math.round((d - SecShift) * 1000.0) * 1000L)
              case LongType => vec.putLong(r, math.round(d * 1e9))
              case _: org.apache.spark.sql.types.TimeType =>
                vec.putLong(r, math.round(d * 1e9)) // TIME(6) physical nanos
              case _ => vec.putDouble(r, d)
            }
            r += 1; p += recordLen
          }
        }
      }
    }
  }

  // ---- compressed-stream checkpoint index ----

  /** zsav trailer block entries `(compressedOfs, uncompressedSize,
    * compressedSize)` plus uncompressed-offset prefix sums. */
  private def zsavEntries(path: String, md: SpssMeta)
      : (IndexedSeq[(Long, Int, Int)], Array[Long]) = {
    val raf = new RandomAccessFile(path, "r")
    try {
      raf.seek(md.dataOffset)
      val h = new Array[Byte](24); raf.readFully(h)
      val ztrailerOfs = Bin.i64(h, 8, md.little)
      raf.seek(ztrailerOfs)
      val th = new Array[Byte](24); raf.readFully(th)
      val nBlocks = Bin.i32(th, 20, md.little)
      val es = (0 until nBlocks).map { _ =>
        val e = new Array[Byte](24); raf.readFully(e)
        val (uSize, cSize) = (Bin.i32(e, 16, md.little), Bin.i32(e, 20, md.little))
        // block sizes drive the inflate allocations; the writer emits
        // ≤0x3FF000-byte blocks, so anything past 64 MiB is corruption
        require(uSize >= 0 && uSize <= (1 << 26) && cSize >= 0 && cSize <= (1 << 26),
          s"corrupt zsav: block sizes u=$uSize c=$cSize exceed the 64 MiB sanity bound")
        (Bin.i64(e, 8, md.little), uSize, cSize)
      }
      (es, es.scanLeft(0L)(_ + _._2.toLong).toArray)
    } finally raf.close()
  }

  /** The logical byte stream a compressed sav decodes from: the raw file
    * after dataOffset (compression=1) or the concatenated inflated zlib
    * blocks (compression=2, one InflaterInputStream per block). */
  private def logicalStream(path: String, md: SpssMeta,
      firstBlock: Int = 0): () => java.io.InputStream =
    if (md.compression == 1) {
      var used = false
      () => if (used) null else {
        used = true
        val s = new BufferedInputStream(new FileInputStream(path), 1 << 20)
        var toSkip = md.dataOffset
        while (toSkip > 0) {
          val n = s.skip(toSkip)
          if (n > 0) toSkip -= n
          else if (s.read() < 0)
            throw new java.io.EOFException(s"sav: EOF before data offset")
          else toSkip -= 1
        }
        s
      }
    } else {
      val (entries, _) = zsavEntries(path, md)
      val raf = new RandomAccessFile(path, "r")
      val it = entries.iterator.drop(firstBlock)
      () => if (!it.hasNext) { raf.close(); null } else {
        val (cOfs, _, cSize) = it.next()
        val b = new Array[Byte](cSize)
        raf.seek(cOfs); raf.readFully(b)
        // buffered: the index skim reads 8 bytes at a time, which would
        // otherwise be one inflater call per control word
        new BufferedInputStream(
          new InflaterInputStream(new java.io.ByteArrayInputStream(b)), 1 << 16)
      }
    }

  /** One sequential skim of the compressed stream: walk control bytes,
    * arithmetic-skip payloads, never materialize rows. Emits the decoder
    * state at every k-row boundary and the exact row count. */
  private def buildSavIndex(path: String, md: SpssMeta, k: Long): SavIndex = {
    val nextStream = logicalStream(path, md)
    var in = nextStream()
    val ctrl = new Array[Byte](8)
    var ctrlI = 8
    var uOff = 0L
    val skipBuf = new Array[Byte](8)
    def readFully(dst: Array[Byte]): Boolean = {
      var got = 0
      while (got < 8) {
        val r = if (in == null) -1 else in.read(dst, got, 8 - got)
        if (r < 0) {
          if (in != null) in.close()
          in = nextStream()
          if (in == null) return false
        } else got += r
      }
      true
    }
    val cps = IndexedSeq.newBuilder[SavCheckpoint]
    cps += SavCheckpoint(0L, new Array[Byte](8), 8)
    val recordLen = md.recordLen
    var rows = 0L
    var done = false
    while (!done) {
      var pos = 0
      while (!done && pos < recordLen) {
        if (ctrlI == 8) {
          if (!readFully(ctrl)) done = true
          else { uOff += 8; ctrlI = 0 }
        }
        if (!done) {
          val code = ctrl(ctrlI) & 0xff; ctrlI += 1
          code match {
            case 0 => ()
            case 252 => done = true
            case 253 =>
              if (!readFully(skipBuf)) done = true
              else { uOff += 8; pos += 8 }
            case _ => pos += 8
          }
        }
      }
      if (pos >= recordLen) {
        rows += 1
        if (!done && rows % k == 0)
          cps += SavCheckpoint(uOff, ctrl.clone(), ctrlI)
      }
    }
    if (in != null) in.close()
    SavIndex(rows, cps.result())
  }

  // ---- row sources ----
  private trait RowSource {
    /** Decode the next row into dst at off; false once the range is
      * exhausted. */
    def nextRowInto(dst: Array[Byte], off: Int): Boolean
    /** Release the source's file handle / inflater early. Sources close
      * themselves on normal exhaustion; this exists for the error path —
      * a mid-decode exception abandons the iterator (salvage wrapper or
      * task failure), and an explicit close beats waiting for the JDK
      * cleaners. Must be idempotent. */
    def close(): Unit = ()
  }

  /** Bytecode (compression=1): sequential command-stream decode
    * (data.rs:1631-1698). */
  private final class BytecodeRowSource(part: RangePartition, md: SpssMeta)
      extends RowSource {
    private val recordLen = md.recordLen
    private val in = new BufferedInputStream(new FileInputStream(part.path), 1 << 20)
    // InputStream.skip may skip fewer bytes than requested — loop until
    // the full offset (data start + any checkpoint offset) is consumed
    // or the decode silently misaligns
    private var __toSkip = md.dataOffset + part.sav.map(_.uOff).getOrElse(0L)
    while (__toSkip > 0) {
      val n = in.skip(__toSkip)
      if (n > 0) __toSkip -= n
      else if (in.read() < 0)
        throw new java.io.EOFException(s"sav: EOF before data offset ${md.dataOffset}")
      else __toSkip -= 1
    }
    private val missBytes = {
      val o = new java.io.ByteArrayOutputStream()
      if (md.little) Bin.putU64(o, MissingBits) else {
        val v = MissingBits
        (0 until 8).foreach(i => o.write(((v >>> ((7 - i) * 8)) & 0xff).toInt))
      }
      o.toByteArray
    }
    private val control = new Array[Byte](8)
    private var controlI = 8
    part.sav.foreach { cp =>
      System.arraycopy(cp.ctrl, 0, control, 0, 8); controlI = cp.ctrlI
    }
    private var finished = false
    private var emitted = 0L
    // with a checkpoint the stream is positioned at the checkpoint row;
    // skipRows decodes-and-drops the mid-interval remainder up to
    // startRow (offset pushdown). Without one, skip from data start.
    private var toSkip = if (part.sav.isDefined) part.skipRows else part.startRow

    override def nextRowInto(dst: Array[Byte], off: Int): Boolean = {
      while (toSkip > 0) { if (!readRowInto(dst, off)) return false; toSkip -= 1 }
      if (emitted >= part.numRows) { in.close(); return false }
      val ok = readRowInto(dst, off)
      if (!ok) in.close() else emitted += 1
      ok
    }
    override def close(): Unit = in.close()

    private def readRowInto(out: Array[Byte], base: Int): Boolean = {
      if (finished) return false
      var pos = base
      val end = base + recordLen
      while (pos < end) {
        val code = nextControl()
        if (code < 0) { finished = true; return false }
        code match {
          case 0 => // padding
          case 252 => finished = true; return false
          case 253 =>
            if (!fill(out, pos, 8)) { finished = true; return false }
            pos += 8
          case 254 =>
            java.util.Arrays.fill(out, pos, pos + 8, ' '.toByte)
            pos += 8
          case 255 =>
            System.arraycopy(missBytes, 0, out, pos, 8)
            pos += 8
          case v =>
            val fp = v - md.bias
            val bits = java.lang.Double.doubleToRawLongBits(fp)
            var i = 0
            while (i < 8) {
              out(pos + i) =
                if (md.little) ((bits >>> (i * 8)) & 0xff).toByte
                else ((bits >>> ((7 - i) * 8)) & 0xff).toByte
              i += 1
            }
            pos += 8
        }
      }
      true
    }

    private def nextControl(): Int = {
      if (controlI == 8) {
        var got = 0
        while (got < 8) {
          val r = in.read(control, got, 8 - got)
          if (r < 0) return -1
          got += r
        }
        controlI = 0
      }
      val b = control(controlI) & 0xff
      controlI += 1
      b
    }

    private def fill(out: Array[Byte], off: Int, n: Int): Boolean = {
      var got = 0
      while (got < n) {
        val r = in.read(out, off + got, n - got)
        if (r < 0) return false
        got += r
      }
      true
    }
  }

  /** zsav (compression=2): inflate whole zlib blocks into arrays (sizes
    * come from the trailer), then bytecode-decode straight off the
    * buffers — no per-byte inflater calls in the hot path. */
  private final class ZsavRowSource(part: RangePartition, md: SpssMeta,
      salvage: Boolean = false)
      extends RowSource {
    private val recordLen = md.recordLen
    // mode=permissive salvage: the block index lives in an EOF trailer,
    // which is exactly what a truncated download loses — fall back to
    // inflating the back-to-back zlib streams sequentially from the
    // data start (no sizes needed; each stream self-terminates) so the
    // intact prefix still decodes. Only for un-checkpointed partitions:
    // resuming mid-stream NEEDS the index, and under salvage the
    // planner already degraded a trailerless file to one sequential
    // partition.
    private val entriesOpt: Option[(IndexedSeq[(Long, Int, Int)], Array[Long])] =
      if (!(salvage && part.sav.isEmpty)) Some(zsavEntries(part.path, md))
      else try Some(zsavEntries(part.path, md))
      catch { case scala.util.control.NonFatal(_) => None }
    private val raf = new RandomAccessFile(part.path, "r")
    // with a checkpoint: begin at the block containing uOff and skip the
    // intra-block remainder — only this partition's blocks are inflated
    private val startUOff = part.sav.map(_.uOff).getOrElse(0L)
    private val firstBlock = entriesOpt match {
      case Some((_, uPrefix)) =>
        var b = 0
        while (b + 1 < uPrefix.length - 1 && uPrefix(b + 1) <= startUOff) b += 1
        b
      case None => 0
    }
    private var skipInBlock = entriesOpt match {
      case Some((_, uPrefix)) => (startUOff - uPrefix(firstBlock)).toInt
      case None => 0
    }
    private val blockIter = entriesOpt match {
      case Some((entries, _)) => entries.iterator.drop(firstBlock)
      case None => Iterator.empty
    }
    private val inner = new BytecodeFromStream(recordLen, md,
      if (entriesOpt.isDefined) () => nextBlock() else () => nextBlockSeq(),
      part.sav.map(_.ctrl).orNull, part.sav.map(_.ctrlI).getOrElse(8))

    // ---- trailerless sequential inflate (salvage fallback) ----
    private var seqPos = md.dataOffset + 24L // past the 24-byte zheader
    private lazy val seqEnd = raf.length()
    private var seqInfLive = false
    private lazy val seqInf = {
      seqInfLive = true; new java.util.zip.Inflater()
    }
    private lazy val seqBuf = new Array[Byte](1 << 16)
    private def seqFill(): Boolean = {
      if (seqPos >= seqEnd) return false
      raf.seek(seqPos)
      val want = math.min(seqBuf.length.toLong, seqEnd - seqPos).toInt
      val n = raf.read(seqBuf, 0, want)
      if (n <= 0) return false
      seqPos += n
      seqInf.setInput(seqBuf, 0, n)
      true
    }
    private def nextBlockSeq(): Array[Byte] = {
      val out = new Array[Byte](1 << 20)
      var off = 0
      var stop = false
      while (!stop && off < out.length) {
        if (seqInf.finished()) {
          // the unconsumed input tail is the start of the NEXT
          // concatenated zlib stream: rewind and restart on it
          seqPos -= seqInf.getRemaining
          seqInf.reset()
          if (!seqFill()) stop = true
        } else {
          val n = seqInf.inflate(out, off, out.length - off)
          if (n > 0) off += n
          else if (seqInf.needsInput()) { if (!seqFill()) stop = true }
          else stop = true // neither progress nor hunger: corrupt stream
        }
      }
      if (off == 0) null
      else if (off == out.length) out
      else java.util.Arrays.copyOfRange(out, 0, off)
    }
    private var emitted = 0L
    // same rule as BytecodeRowSource: checkpointed partitions drop the
    // mid-interval remainder (offset pushdown), others skip from start
    private var toSkip = if (part.sav.isDefined) part.skipRows else part.startRow

    /** Next fully-inflated block (minus any initial checkpoint skip). */
    private def nextBlock(): Array[Byte] = {
      if (!blockIter.hasNext) return null
      val (cOfs, uSize, cSize) = blockIter.next()
      val b = new Array[Byte](cSize)
      raf.seek(cOfs)
      raf.readFully(b)
      val out = new Array[Byte](uSize)
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(b)
        var off = 0
        while (off < uSize && !inf.finished()) {
          val n = inf.inflate(out, off, uSize - off)
          if (n == 0 && inf.needsInput())
            throw new java.io.EOFException("zsav: truncated block")
          off += n
        }
        val res =
          if (skipInBlock > 0 || off < uSize)
            java.util.Arrays.copyOfRange(out, math.min(skipInBlock, off), off)
          else out
        skipInBlock = 0
        res
      } finally inf.end()
    }

    override def nextRowInto(dst: Array[Byte], off: Int): Boolean = {
      while (toSkip > 0) { if (!inner.readRowInto(dst, off)) return false; toSkip -= 1 }
      if (emitted >= part.numRows) { closeAll(); return false }
      val ok = inner.readRowInto(dst, off)
      if (!ok) closeAll() else emitted += 1
      ok
    }

    private def closeAll(): Unit = {
      raf.close()
      if (seqInfLive) { seqInf.end(); seqInfLive = false }
    }
    override def close(): Unit = closeAll()
  }

  /** Bytecode decoder over a chain of pre-inflated block buffers (zsav),
    * optionally resuming from a checkpoint's control-byte state. */
  private final class BytecodeFromStream(recordLen: Int, md: SpssMeta,
      nextBlock: () => Array[Byte],
      initCtrl: Array[Byte] = null, initCtrlI: Int = 8) {
    private var buf: Array[Byte] = _
    private var bufPos = 0
    private val control = new Array[Byte](8)
    private var controlI = initCtrlI
    if (initCtrl != null) System.arraycopy(initCtrl, 0, control, 0, 8)
    private var finished = false
    private val missBytes = {
      val o = new java.io.ByteArrayOutputStream()
      if (md.little) Bin.putU64(o, MissingBits)
      else (0 until 8).foreach(i => o.write(((MissingBits >>> ((7 - i) * 8)) & 0xff).toInt))
      o.toByteArray
    }

    /** True while a current block (or a next one) has bytes. */
    private def ensure(): Boolean = {
      while (buf == null || bufPos >= buf.length) {
        buf = nextBlock()
        bufPos = 0
        if (buf == null) return false
      }
      true
    }

    def readRowInto(out: Array[Byte], base: Int): Boolean = {
      if (finished) return false
      var pos = base
      val end = base + recordLen
      while (pos < end) {
        val code = nextControl()
        if (code < 0) { finished = true; return false }
        code match {
          case 0 =>
          case 252 => finished = true; return false
          case 253 =>
            if (!fill(out, pos, 8)) { finished = true; return false }
            pos += 8
          case 254 =>
            java.util.Arrays.fill(out, pos, pos + 8, ' '.toByte); pos += 8
          case 255 =>
            System.arraycopy(missBytes, 0, out, pos, 8); pos += 8
          case v =>
            val bits = java.lang.Double.doubleToRawLongBits(v - md.bias)
            var i = 0
            while (i < 8) {
              out(pos + i) =
                if (md.little) ((bits >>> (i * 8)) & 0xff).toByte
                else ((bits >>> ((7 - i) * 8)) & 0xff).toByte
              i += 1
            }
            pos += 8
        }
      }
      true
    }

    private def nextControl(): Int = {
      if (controlI == 8) {
        if (!fill(control, 0, 8)) return -1
        controlI = 0
      }
      val b = control(controlI) & 0xff
      controlI += 1
      b
    }

    private def fill(out: Array[Byte], off: Int, n: Int): Boolean = {
      var got = 0
      while (got < n) {
        if (!ensure()) return false
        val take = math.min(n - got, buf.length - bufPos)
        System.arraycopy(buf, bufPos, out, off + got, take)
        bufPos += take
        got += take
      }
      true
    }
  }
}
