package graft.spark.readstat

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.por.PorCore
import graft.core.por.PorCore._

/** SPSS portable (.por) as a Spark format module. The format is a
  * translated ASCII stream with no record boundaries → inherently
  * sequential single-partition scan (SURVEY.md §2.1). Row count is
  * unknown until the 'Z' end marker.
  */
object PorModule extends FormatModule {

  private case class FileKey(path: String, size: Long, mtime: Long)
  private def keyOf(path: String) = {
    val f = new java.io.File(path)
    FileKey(path, f.length(), f.lastModified())
  }
  private val mdCache = new ConcurrentHashMap[FileKey, PorMeta]()
  def metadata(path: String): PorMeta =
    mdCache.computeIfAbsent(keyOf(path), _ => {
      val s = new PorStream(path)
      try PorCore.parseMeta(s) finally s.close()
    })

  /** Checkpoint interval for the parallel-scan index: fine enough to
    * pack partitions near partitionTargetBytes, coarse enough that the
    * index stays metadata-sized (32 B per 8k rows). */
  private val IndexEvery = 8192L
  private val idxCache = new ConcurrentHashMap[FileKey, PorIndex]()
  private def porIndex(path: String): PorIndex =
    idxCache.computeIfAbsent(keyOf(path),
      _ => PorCore.buildIndex(path, IndexEvery))

  /** POR's header has no case count, so counts normally need a scan —
    * but once a parallel read has built the checkpoint index, its exact
    * row count answers COUNT(*) pushdown and statistics for free.
    * Opportunistic only: a count on an un-indexed file still falls back
    * to the real scan rather than paying a skim it may never amortize. */
  override def exactRowCount(path: String, opts: ReadstatOptions): Option[Long] =
    Option(idxCache.get(keyOf(path))).map(_.rows)

  def sparkTypeOf(v: PorVar, opts: ReadstatOptions): DataType =
    if (v.isString) StringType
    // label decode wins over the format class, mirroring SpssModule —
    // BEYOND the reference, which discards POR value labels entirely
    else if (opts.valueLabelsAsStrings && v.numLabels.nonEmpty) StringType
    else v.formatClass match {
      case Some("Date") => DateType
      case Some("DateTime") => TimestampNTZType
      case Some("Time") =>
        // nanos-of-day either way (TIME(6)'s physical long)
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
      fields += StructField(v.name, sparkTypeOf(v, opts), nullable = true, mb.build())
      // sav eligibility rule (SpssModule): numeric vars always, string
      // vars only when they declare missing values
      if (opts.informativeNulls && (!v.isString || v.missingStrings.nonEmpty) &&
          opts.infoNullEligible(v.name))
        fields += StructField(v.name + opts.informativeNullSuffix, StringType,
          nullable = true)
    }
    opts.rowIndexName.foreach(n => fields += StructField(n, LongType, nullable = false))
    StructType(fields.result())
  }

  private def isUserMissing(v: PorVar, d: Double): Boolean =
    v.hasMissing && (v.missingDoubles.contains(d) ||
      v.missingLoThru.exists(d <= _) || v.missingHiThru.exists(d >= _) ||
      v.missingRange.exists { case (lo, hi) => d >= lo && d <= hi })

  /** sav semantics (SpssModule.userMissingLabel): a value label for the
    * missing code beats the code form; range-only matches render as
    * "MISSING" when unlabeled. */
  private def userMissingLabel(v: PorVar, d: Double,
      useValueLabels: Boolean): String = {
    val label = if (useValueLabels) v.numLabels.get(d) else None
    if (label.isDefined) label.get
    else if (!v.missingDoubles.contains(d)) "MISSING"
    else NumRender.code(d)
  }

  /** r11, BEYOND the reference (por.rs decodes strictly serially): files
    * past the partition target split into PARALLEL row-range partitions.
    * A plan-time cell-boundary skim (no value materialization, cached
    * per file) records a [[PorCkpt]] every [[IndexEvery]] rows; each
    * partition resumes its checkpoint's (byteOff, linePos, pending)
    * state — the same amortized-skim trade as the compressed-SPSS
    * checkpoint index. Limit reads stay sequential (they touch a
    * prefix anyway). */
  override def planPartitions(path: String, opts: ReadstatOptions,
      limit: Option[Long]): Seq[RangePartition] = {
    val size = new java.io.File(path).length()
    if (limit.isDefined || size < 2 * opts.partitionTargetBytes)
      return Seq(RangePartition(path, 0, limit.getOrElse(Long.MaxValue)))
    // mode=permissive: a truncated stream fails the checkpoint skim
    // (no Z end-of-data marker) — degrade to ONE sequential partition
    // so the decoder's salvage still recovers the decodable prefix,
    // instead of the planner dropping the whole file (same fallback as
    // SpssModule's unindexable zsav)
    val idx = try porIndex(path) catch {
      case scala.util.control.NonFatal(_) if opts.salvage =>
        return Seq(RangePartition(path, 0, Long.MaxValue))
    }
    if (idx.rows == 0 || idx.cps.isEmpty)
      return Seq(RangePartition(path, 0, Long.MaxValue))
    val parts = Seq.newBuilder[RangePartition]
    var start = idx.cps.head
    var i = 1
    while (i < idx.cps.length) {
      if (idx.cps(i).byteOff - start.byteOff >= opts.partitionTargetBytes) {
        parts += RangePartition(path, start.row, idx.cps(i).row - start.row,
          por = Some(PorResume(start.byteOff, start.pos, start.pending)))
        start = idx.cps(i)
      }
      i += 1
    }
    parts += RangePartition(path, start.row, idx.rows - start.row,
      por = Some(PorResume(start.byteOff, start.pos, start.pending)))
    parts.result()
  }

  /** OFFSET pushdown (r14 — the reference's slice pushdown reaches
    * every format, __init__.py:631-661): POR cannot seek to a row, but
    * the checkpoint index the parallel scan already builds resumes the
    * line state at the nearest checkpoint ≤ offset; the ≤[[IndexEvery]]
    * mid-interval remainder is boundary-SKIMMED ([[RangePartition
    * .skipRows]] — cell boundaries only, no base-30 parse, no String
    * building). Small files skip the index and skim from data start. */
  override def plansOffset(path: String, opts: ReadstatOptions): Boolean = true

  override def planPartitionsAt(path: String, opts: ReadstatOptions,
      offset: Long, limit: Option[Long]): Option[Seq[RangePartition]] = {
    val off0 = math.max(0L, offset)
    if (new java.io.File(path).length() < 2 * opts.partitionTargetBytes) {
      // `limit` is an absolute row cap from file start; numRows caps
      // the rows emitted AFTER the skipRows skim
      val numRows = limit.map(l => math.max(0L, l - off0)).getOrElse(Long.MaxValue)
      return Some(Seq(RangePartition(path, off0, numRows, skipRows = off0)))
    }
    val idx = porIndex(path)
    val total = limit.map(math.min(_, idx.rows)).getOrElse(idx.rows)
    val start0 = math.min(off0, total)
    if (idx.rows == 0 || idx.cps.isEmpty || total - start0 <= 0)
      return Some(Seq(RangePartition(path, start0, 0)))
    // nearest checkpoint at or before the offset row (cps sorted by row)
    var c0 = 0
    while (c0 + 1 < idx.cps.length && idx.cps(c0 + 1).row <= start0) c0 += 1
    // byte-target boundary walk, same packing rule as planPartitions
    val parts = Seq.newBuilder[RangePartition]
    var start = idx.cps(c0)
    var firstRow = start0 // first EMITTED row of the current partition
    var skip = start0 - start.row
    var i = c0 + 1
    while (i < idx.cps.length && idx.cps(i).row < total) {
      if (idx.cps(i).byteOff - start.byteOff >= opts.partitionTargetBytes) {
        parts += RangePartition(path, firstRow, idx.cps(i).row - firstRow,
          por = Some(PorResume(start.byteOff, start.pos, start.pending)),
          skipRows = skip)
        start = idx.cps(i); firstRow = idx.cps(i).row; skip = 0L
      }
      i += 1
    }
    parts += RangePartition(path, firstRow, total - firstRow,
      por = Some(PorResume(start.byteOff, start.pos, start.pending)),
      skipRows = skip)
    Some(parts.result())
  }

  /** Pushed predicates evaluate on decoded output values, same as the
    * fixed-width modules. POR can't seek, but it CAN skim: once the
    * last filter cell of a row is decoded and the predicate fails, the
    * remaining cells are boundary-skimmed (no string building, no
    * base-30 parse) — the sequential-format analog of decode skipping. */
  override def canEvalFilter(path: String, opts: ReadstatOptions,
      filter: org.apache.spark.sql.sources.Filter): Boolean = {
    if (opts.compress || opts.schemaOverrides.nonEmpty) return false
    val types = schema(path, opts).fields.map(f => f.name -> f.dataType).toMap
    PushedFilters.isSupported(filter, types.get)
  }

  override def columnarRows(part: RangePartition, opts: ReadstatOptions,
      required: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter])
      : Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

    val md = metadata(part.path)
    require(md.vars.nonEmpty, "por: file declares no variables")
    val stream = part.por match {
      case Some(r) =>
        new PorStream(part.path, r.byteOff, r.pos, r.pending, md.charTable)
      case None =>
        val s = new PorStream(part.path)
        PorCore.parseMeta(s)
        s
    }
    // offset pushdown: decode-and-drop up to the first requested row
    val skimEof = {
      var t = part.skipRows; var eof = false
      while (t > 0 && !eof) {
        if (PorCore.skimRow(stream, md.vars)) t -= 1 else eof = true
      }
      eof
    }
    val byName = md.vars.map(_.name).zipWithIndex.toMap
    // var index → output field position (-1 = unprojected); indicator
    // fields (column-mode informative nulls) map separately — a cell
    // decodes when EITHER position is projected
    val fieldOfVar = Array.fill(md.vars.length)(-1)
    val indFieldOfVar = Array.fill(md.vars.length)(-1)
    var rowIdxField = -1
    required.fields.zipWithIndex.foreach { case (f, fi) =>
      if (opts.rowIndexName.contains(f.name)) rowIdxField = fi
      else byName.get(f.name) match {
        case Some(vi) => fieldOfVar(vi) = fi
        case None =>
          val base = f.name.stripSuffix(opts.informativeNullSuffix)
          if (opts.informativeNulls && f.name.endsWith(opts.informativeNullSuffix) &&
              byName.contains(base))
            indFieldOfVar(byName(base)) = fi
          else throw new IllegalArgumentException(s"no such column: ${f.name}")
      }
    }
    // label LUTs pre-encode to UTF-8 bytes (columnar vectors append raw
    // bytes; see DoubleByteLut)
    val labelNum: Array[DoubleByteLut] = md.vars.map(v =>
      if (!v.isString && opts.valueLabelsAsStrings && v.numLabels.nonEmpty)
        new DoubleByteLut(v.numLabels) else null).toArray
    val labelStr: Array[Map[String, Array[Byte]]] = md.vars.map(v =>
      if (v.isString && opts.valueLabelsAsStrings && v.strLabels.nonEmpty)
        v.strLabels.map { case (k, l) =>
          k -> l.getBytes(java.nio.charset.StandardCharsets.UTF_8) }
      else null).toArray

    // pushed predicate (slot = var index): the prefix of each row up to
    // the last filter cell buffers as plain values, the predicate runs,
    // and failing rows SKIM their remaining cells — nothing is written
    // to the vectors for a skipped row (overwriting a vector row cannot
    // clear its null bit, so partial writes must never happen)
    val typeByName = required.fields.map(f => f.name -> f.dataType).toMap
    val pred: PushedFilters.Pred =
      if (pushed.isEmpty) null
      else PushedFilters.compile(pushed.toSeq, byName.get, typeByName.get).orNull
    val maxPredVar: Int =
      if (pred == null) -1
      else pushed.flatMap(_.references).flatMap(byName.get).foldLeft(-1)(math.max)

    // ~2M cells per batch, same auto rule as the fixed-width modules
    val batchRows = math.max(1, math.min(
      if (opts.batchRows > 0) opts.batchRows.toLong
      else math.max(1024L, (2L << 20) / md.vars.length),
      Int.MaxValue)).toInt

    new Iterator[ColumnarBatch] {
      private var limit = if (skimEof) 0L else part.numRows
      private var rowIdx = part.startRow
      private var done = false
      private var pending: ColumnarBatch = _

      private def truncated(): Nothing = throw new java.io.IOException(
        "por: stream ended without the 'Z' end-of-data marker — file truncated")

      override def hasNext: Boolean = {
        if (pending == null && !done) pending = readBatch()
        pending != null
      }

      override def next(): ColumnarBatch = {
        if (!hasNext) throw new NoSuchElementException
        val b = pending; pending = null; b
      }

      private def finish(): Unit = { done = true; stream.close() }

      // indicator bytes of the LAST decoded cell (column-mode
      // informative nulls): set by decodeStrCell/decodeNumCell when
      // the cell's var has a projected indicator field, consumed by
      // the caller right after
      private var lastInd: Array[Byte] = _

      /** One string cell → Array[Byte] (label or value bytes) or null. */
      private def decodeStrCell(i: Int, v: PorVar, c0: Int): Any = {
        val len = stream.readDoublePeek(c0).toInt
        val s0 = new String(stream.readChars(len),
          java.nio.charset.StandardCharsets.ISO_8859_1)
        var e = s0.length
        while (e > 0 && s0(e - 1) == ' ') e -= 1
        val s = s0.substring(0, e)
        val userMiss = v.missingStrings.nonEmpty && v.missingStrings.contains(s)
        lastInd =
          if (!userMiss || indFieldOfVar(i) < 0) null
          else {
            val lbl = if (opts.informativeNullUseValueLabels)
              v.strLabels.get(s) else None
            lbl.getOrElse(s).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
        if ((s.isEmpty && opts.missingStringAsNull) || userMiss) null
        else {
          var b: Array[Byte] =
            if (labelStr(i) != null) labelStr(i).getOrElse(s, null) else null
          if (b == null) b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          b
        }
      }

      /** One numeric cell → Array[Byte] (label) / boxed Int/Long/Double
        * (temporal-converted) / null. */
      private def decodeNumCell(i: Int, v: PorVar, c0: Int): Any = {
        val d =
          if (c0 == '*') {
            val c2 = stream.readChar()
            require(c2 == '.', s"POR: expected '.' after '*', got ${c2.toChar}")
            Double.NaN
          } else stream.readDoublePeek(c0)
        val userMiss = !d.isNaN && isUserMissing(v, d)
        lastInd =
          if (!userMiss || indFieldOfVar(i) < 0) null
          else userMissingLabel(v, d, opts.informativeNullUseValueLabels)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (d.isNaN || userMiss) null
        else if (labelNum(i) != null) {
          var b = labelNum(i).get(d)
          if (b == null)
            b = NumRender.code(d).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          b
        } else v.formatClass match {
          case Some("Date") =>
            java.lang.Integer.valueOf(((d.toLong - SecShift) / 86400L).toInt)
          case Some("DateTime") =>
            java.lang.Long.valueOf(math.round((d - SecShift) * 1000.0) * 1000L)
          case Some("Time") => java.lang.Long.valueOf(math.round(d * 1e9))
          case _ => java.lang.Double.valueOf(d)
        }
      }

      private def putCell(vec: OnHeapColumnVector, r: Int, value: Any): Unit =
        value match {
          case null => vec.putNull(r)
          case b: Array[Byte] => vec.putByteArray(r, b, 0, b.length)
          case d: java.lang.Double => vec.putDouble(r, d.doubleValue())
          case l: java.lang.Long => vec.putLong(r, l.longValue())
          case x: java.lang.Integer => vec.putInt(r, x.intValue())
        }

      // prefix buffer for the pushed-predicate regime; the getter hands
      // the predicate UTF8String views over buffered byte arrays.
      // pvInd buffers the prefix cells' indicator bytes alongside
      private val pv: Array[Any] =
        if (pred == null) null else new Array[Any](maxPredVar + 1)
      private val pvInd: Array[Array[Byte]] =
        if (pred == null) null else new Array[Array[Byte]](maxPredVar + 1)
      private val pvGetter: Int => Any = slot => pv(slot) match {
        case b: Array[Byte] => UTF8String.fromBytes(b)
        case other => other
      }

      /** Decode up to batchRows rows straight into fresh vectors; null
        * when the stream (or the partition's row budget) is exhausted.
        * Cells no required field reads are skimmed, same as the row
        * path. With a pushed predicate, each row's prefix up to the
        * last filter cell buffers in `pv`, the predicate runs, and a
        * failing row SKIMS its remaining cells — no vector slot is
        * touched for skipped rows (a rewritten vector row cannot clear
        * its null bit, so partial writes are forbidden). Decode errors
        * propagate — never masquerade as EOF. */
      private def readBatch(): ColumnarBatch = {
        if (limit <= 0) { finish(); return null }
        val m = math.min(batchRows.toLong, limit).toInt
        val vectors = new Array[ColumnVector](required.length)
        var c = 0
        while (c < required.length) {
          vectors(c) = new OnHeapColumnVector(m, required.fields(c).dataType)
          c += 1
        }
        var r = 0
        var scanned = 0
        while (scanned < m && !done) {
          var i = 0
          var zEnd = false
          var skipped = false
          try {
          while (i < md.vars.length && !zEnd && !skipped) {
            val v = md.vars(i)
            val c0 = stream.readChar()
            if (c0 == 'Z') {
              require(i == 0, "POR: Z in middle of row")
              zEnd = true
            } else {
              if (c0 < 0) truncated()
              val fi = fieldOfVar(i)
              val indFi = indFieldOfVar(i)
              val buffering = pred != null && i <= maxPredVar
              if (buffering) {
                // prefix cell under a pushed predicate: buffer data AND
                // indicator values (or skim if neither is projected —
                // filter cells are always projected)
                if (fi < 0 && indFi < 0) {
                  if (v.isString) stream.skipChars(stream.readDoublePeek(c0).toInt)
                  else PorCore.skimCell(stream, isString = false, c0)
                  pv(i) = null
                  pvInd(i) = null
                } else {
                  pv(i) =
                    if (v.isString) decodeStrCell(i, v, c0)
                    else decodeNumCell(i, v, c0)
                  pvInd(i) = lastInd
                }
              } else if (fi < 0 && indFi < 0) {
                if (v.isString) stream.skipChars(stream.readDoublePeek(c0).toInt)
                else PorCore.skimCell(stream, isString = false, c0)
              } else if (indFi >= 0) {
                // indicator projected: decode through the value helpers
                // (they set lastInd) and route both outputs
                val value = if (v.isString) decodeStrCell(i, v, c0)
                            else decodeNumCell(i, v, c0)
                val ivec = vectors(indFi).asInstanceOf[OnHeapColumnVector]
                if (lastInd == null) ivec.putNull(r)
                else ivec.putByteArray(r, lastInd, 0, lastInd.length)
                if (fi >= 0)
                  putCell(vectors(fi).asInstanceOf[OnHeapColumnVector], r, value)
              } else if (v.isString) {
                // direct, boxing-free vector writes on the hot path
                val vec = vectors(fi).asInstanceOf[OnHeapColumnVector]
                val len = stream.readDoublePeek(c0).toInt
                val s0 = new String(stream.readChars(len),
                  java.nio.charset.StandardCharsets.ISO_8859_1)
                var e = s0.length
                while (e > 0 && s0(e - 1) == ' ') e -= 1
                val s = s0.substring(0, e)
                val userMiss = v.missingStrings.nonEmpty &&
                  v.missingStrings.contains(s)
                if ((s.isEmpty && opts.missingStringAsNull) || userMiss)
                  vec.putNull(r)
                else {
                  var b: Array[Byte] =
                    if (labelStr(i) != null) labelStr(i).getOrElse(s, null)
                    else null
                  if (b == null)
                    b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                  vec.putByteArray(r, b, 0, b.length)
                }
              } else {
                val vec = vectors(fi).asInstanceOf[OnHeapColumnVector]
                val d =
                  if (c0 == '*') {
                    val c2 = stream.readChar()
                    require(c2 == '.', s"POR: expected '.' after '*', got ${c2.toChar}")
                    Double.NaN
                  } else stream.readDoublePeek(c0)
                val userMiss = !d.isNaN && isUserMissing(v, d)
                if (d.isNaN || userMiss) vec.putNull(r)
                else if (labelNum(i) != null) {
                  var b = labelNum(i).get(d)
                  if (b == null)
                    b = NumRender.code(d).getBytes(
                      java.nio.charset.StandardCharsets.UTF_8)
                  vec.putByteArray(r, b, 0, b.length)
                } else v.formatClass match {
                  case Some("Date") =>
                    vec.putInt(r, ((d.toLong - SecShift) / 86400L).toInt)
                  case Some("DateTime") =>
                    vec.putLong(r, math.round((d - SecShift) * 1000.0) * 1000L)
                  case Some("Time") => vec.putLong(r, math.round(d * 1e9))
                  case _ => vec.putDouble(r, d)
                }
              }
              // prefix complete: evaluate, and either flush the buffered
              // cells into the vectors or skim the rest of the row
              if (buffering && i == maxPredVar) {
                if (pred(pvGetter)) {
                  var j = 0
                  while (j <= maxPredVar) {
                    val fj = fieldOfVar(j)
                    if (fj >= 0)
                      putCell(vectors(fj).asInstanceOf[OnHeapColumnVector], r, pv(j))
                    val ij = indFieldOfVar(j)
                    if (ij >= 0) {
                      val ivec = vectors(ij).asInstanceOf[OnHeapColumnVector]
                      if (pvInd(j) == null) ivec.putNull(r)
                      else ivec.putByteArray(r, pvInd(j), 0, pvInd(j).length)
                    }
                    j += 1
                  }
                } else {
                  var j = i + 1
                  while (j < md.vars.length) {
                    val vj = md.vars(j)
                    val cj = stream.readChar()
                    if (cj < 0) truncated()
                    require(cj != 'Z', "POR: Z in middle of row")
                    if (vj.isString) stream.skipChars(stream.readDoublePeek(cj).toInt)
                    else PorCore.skimCell(stream, isString = false, cj)
                    j += 1
                  }
                  skipped = true
                }
              }
              i += 1
            }
          }
          } catch {
            // mode=permissive: mid-row damage (truncated base-30 cell,
            // missing 'Z' end marker) ends the scan with the complete
            // rows already in this batch — r only advances after a full
            // row decode, so the partial row is never emitted
            case scala.util.control.NonFatal(e) if opts.salvage =>
              Formats.log.warn(s"readstat: mode=permissive salvaging por " +
                s"${part.path} at row $rowIdx: $e")
              zEnd = true
            case e: Throwable => // loud modes: close, then fail the task
              stream.close(); throw e
          }
          if (zEnd) done = true
          else {
            scanned += 1
            if (!skipped) {
              if (rowIdxField >= 0)
                vectors(rowIdxField).asInstanceOf[OnHeapColumnVector]
                  .putLong(r, rowIdx)
              r += 1
            }
            rowIdx += 1
          }
        }
        limit -= scanned
        if (done) stream.close()
        else if (limit <= 0) finish()
        if (r == 0 && (done || limit <= 0)) { vectors.foreach(_.close()); null }
        else new ColumnarBatch(vectors, r)
      }
    }
  }
}
