package graft.spark.readstat

import java.io.RandomAccessFile
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Bin
import graft.core.sas.SasCore
import graft.core.sas.SasCore._

/** SAS .sas7bdat as a Spark format module.
  *
  * Partitioning (SURVEY.md §4.2): `RangePartition.startRow/numRows` are
  * reinterpreted as PAGE ranges — pages decode independently (each row
  * lives entirely on one page; compressed rows are per-row subheaders), so
  * a 1000-executor scan assigns disjoint page ranges with exact byte
  * seeks (`headerLength + page*pageLength`). Compressed files stay
  * parallel too, except the global `rowCount` cap (phantom trailing row
  * subheaders) which needs a sequential guard → single partition when the
  * file is compressed, mirroring the reference's serial compressed path.
  */
object SasModule extends FormatModule {

  private case class FileKey(path: String, size: Long, mtime: Long)
  private def keyOf(path: String) = {
    val f = new java.io.File(path)
    FileKey(path, f.length(), f.lastModified())
  }
  private val mdCache = new ConcurrentHashMap[FileKey, SasMeta]()
  def metadata(path: String): SasMeta =
    mdCache.computeIfAbsent(keyOf(path), _ => SasCore.parse(path))

  def sparkTypeOf(c: SasColumn, opts: ReadstatOptions): DataType = kindFor(c) match {
    case KChar => StringType
    case KDate => DateType
    case KDatetime => TimestampNTZType
    case KTime =>
      // nanos-of-day either way: TIME(6)'s physical long IS the nanos
      // the decoder emits, so only the declared type switches
      if (opts.timeAsTimeType) org.apache.spark.sql.types.TimeType(6)
      else LongType
    case KNum => DoubleType
  }

  // ---- .sas7bcat catalog support (reference: catalog.rs + __init__.py:453-495) ----
  private val catCache = new ConcurrentHashMap[FileKey, graft.core.sas.SasCatalog.Catalog]()
  def catalog(path: String): graft.core.sas.SasCatalog.Catalog =
    catCache.computeIfAbsent(keyOf(path), _ => graft.core.sas.SasCatalog.read(path))

  /** Catalog label map for a column, when the catalog option is set and the
    * column's format matches a catalog entry. The option accepts a
    * .sas7bcat path or an inline spec (see [[CatalogResolver]]). */
  private def catalogLabels(opts: ReadstatOptions, c: SasColumn): Option[Map[Double, String]] =
    opts.catalog.flatMap { p =>
      if (c.isChar || c.format.isEmpty) None
      else CatalogResolver.resolve(p).numeric.get(CatalogResolver.fmtKey(c.format))
    }

  /** Char-format ($-prefixed) catalog labels: the reference applies its
    * catalog to string columns too (`_apply_catalog_labels` replaces any
    * matching value, unmatched values pass through unchanged). The column
    * stays StringType; only values map. */
  private def catalogCharLabels(opts: ReadstatOptions,
      c: SasColumn): Option[Map[String, String]] =
    opts.catalog.flatMap { p =>
      if (!c.isChar || c.format.isEmpty) None
      else CatalogResolver.resolve(p).string.get(CatalogResolver.fmtKey(c.format))
    }

  override def schema(path: String, opts: ReadstatOptions): StructType = {
    val md = metadata(path)
    val fields = Vector.newBuilder[StructField]
    md.columns.foreach { c =>
      val mb = new MetadataBuilder()
      if (kindFor(c) == KTime) mb.putString("readstat.type", "time")
      if (c.label.nonEmpty) mb.putString("readstat.label", c.label)
      if (c.format.nonEmpty) mb.putString("readstat.format", c.format)
      val dt =
        if (opts.valueLabelsAsStrings && catalogLabels(opts, c).isDefined) StringType
        else sparkTypeOf(c, opts)
      fields += StructField(c.name, dt, nullable = true, mb.build())
      if (opts.informativeNulls && !c.isChar && opts.infoNullEligible(c.name))
        fields += StructField(c.name + opts.informativeNullSuffix, StringType,
          nullable = true)
    }
    opts.rowIndexName.foreach(n => fields += StructField(n, LongType, nullable = false))
    StructType(fields.result())
  }

  /** SAS tagged missing (value.rs:142-196): bits[47:40] type byte,
    * decoded tag = ~byte; 1-26 = .A-.Z, 27 = ._, -1 = not tagged. One
    * definition for the row and columnar indicator decoders. */
  private[readstat] def missingTagIn(b: Array[Byte], off: Int, len: Int,
      little: Boolean): Int = {
    var bits = 0L
    if (little) {
      var i = math.min(len, 8) - 1
      while (i >= 0) { bits = (bits << 8) | (b(off + i) & 0xffL); i -= 1 }
    } else {
      var i = 0
      while (i < math.min(len, 8)) { bits = (bits << 8) | (b(off + i) & 0xffL); i += 1 }
    }
    bits = bits << ((8 - math.min(len, 8)) * 8)
    if ((bits & 0x7fffffffffffffffL) < 0x7ff0000000000000L) return -1
    val typeByte = ((bits >>> 40) & 0xFF).toInt
    val tag = (~typeByte) & 0xFF
    if (tag == 0 || tag == '_') 27
    else if (tag >= 2 && tag < 28) tag - 1
    else if (tag >= 'A' && tag <= 'Z') tag - 'A' + 1
    else -1
  }

  /** Row offset of each page (plan-time page-header scan; DATA pages carry
    * block_count in the header, MIX pages are bounded by fit math). Only
    * used when rowIndexName is requested on uncompressed files. */
  def pageRowOffsets(path: String): Array[Long] = {
    val md = metadata(path)
    val raf = new RandomAccessFile(path, "r")
    try {
      val offs = new Array[Long](md.pageCount + 1)
      val hdr = new Array[Byte](md.pageBitOffset + 8)
      var acc = 0L
      var p = 0
      while (p < md.pageCount) {
        offs(p) = acc
        raf.seek(md.headerLength.toLong + p.toLong * md.pageLength)
        raf.readFully(hdr)
        val pType = Bin.u16(hdr, md.pageBitOffset, md.little)
        val blockCount = Bin.u16(hdr, md.pageBitOffset + 2, md.little)
        val subCount = Bin.u16(hdr, md.pageBitOffset + 4, md.little)
        if (pType == PtData) acc += blockCount
        else if (pType == PtMix1 || pType == PtMix2) {
          var dataStart = md.pageBitOffset + 8 + subCount * 3 * md.intSize
          if (dataStart % 8 == 4) dataStart += 4
          val maxFit = math.max(0, md.pageLength - dataStart) / math.max(1, md.rowLength)
          acc += math.min(maxFit.toLong, math.min(md.rowCount, md.mixPageRowCount))
        }
        p += 1
      }
      offs(md.pageCount) = acc
      offs
    } finally raf.close()
  }

  /** Row slots on one page: (offset, length, needsDecompression). Shared
    * by the row/columnar decoders and the compressed page-row index. */
  private def pageRowSlots(page: Array[Byte], md: SasMeta): Seq[(Int, Int, Boolean)] = {
    val (pType, blockCount, subCount) = SasCore.readPageHeader(page, md)
    val pbo = md.pageBitOffset
    val intS = md.intSize
    val rowLen = md.rowLength
    if (pType == PtData) {
      val off = pbo + 8
      (0 until blockCount).map(i => (off + i * rowLen, rowLen, false))
    } else if (pType == PtMeta || pType == PtMix1 || pType == PtMix2 || pType == PtAmd) {
      val subs = SasCore.readSubheaders(page, md, subCount)
      val dataSubs =
        if (md.compression == 0) Nil
        else subs.filter { s =>
          (s.compression == 4 || s.compression == 0) && s.typ == 1 &&
            s.length <= rowLen && s.length > 0 &&
            !SasCore.isKnownMetadataSignature(page, s.offset,
              math.min(8, md.pageLength - s.offset))
        }.map(s => (s.offset, s.length, s.length < rowLen))
      if (dataSubs.nonEmpty) dataSubs
      else if (pType == PtMix1 || pType == PtMix2) {
        var dataStart = pbo + 8 + subCount * 3 * intS
        if (dataStart % 8 == 4) dataStart += 4
        val maxFit = math.max(0, md.pageLength - dataStart) / math.max(1, rowLen)
        // cap at min(rowCount, mixPageRowCount): MIX row counts over-
        // state for small files (reference data.rs PageState::Mix)
        val n = math.min(maxFit.toLong,
          math.min(md.rowCount, md.mixPageRowCount)).toInt
        (0 until n).map(i => (dataStart + i * rowLen, rowLen, false))
      } else Nil
    } else Nil
  }

  /** Prefix sums of data-row-slot counts per page for COMPRESSED files:
    * one sequential page scan at plan time (IO only, no row decode),
    * after which page ranges decode independently with exact row-cap
    * math — the reference's compressed path is strictly serial
    * (PARALLELIZATION.md: 1.0×), so this is a scale win over it. */
  private val pagePrefixCache = new ConcurrentHashMap[FileKey, Array[Long]]()
  private def compressedPagePrefix(path: String): Array[Long] =
    pagePrefixCache.computeIfAbsent(keyOf(path), _ => {
      val md = metadata(path)
      val raf = new RandomAccessFile(path, "r")
      try {
        val prefix = new Array[Long](md.pageCount + 1)
        val page = new Array[Byte](md.pageLength)
        raf.seek(md.headerLength.toLong)
        var p = 0
        var acc = 0L
        while (p < md.pageCount) {
          prefix(p) = acc
          raf.readFully(page)
          acc += pageRowSlots(page, md).length
          p += 1
        }
        prefix(md.pageCount) = acc
        prefix
      } finally raf.close()
    })

  /** A sas7bdat's page count is DERIVED from the physical file length
    * (the header field is unreliable — 0 in some 64-bit BE files), so a
    * truncated file looks like a self-consistent smaller file and would
    * short-read silently. Two cheap sound checks expose real-world
    * truncation: an interrupted upload virtually never lands on a page
    * boundary (mid-page tail bytes), and losing whole pages leaves the
    * declared row count above the remaining pages' physical capacity
    * (uncompressed rows are fixed-width, so capacity bounds rows; the
    * per-page overhead only makes the bound conservative). A cut that
    * is page-aligned AND leaves capacity ≥ rowCount stays undetectable
    * without an O(pages) header sweep — accepted and documented.
    * Known trade: a COMPLETE file with a few appended junk bytes (e.g.
    * an archiver artifact) also fails the mid-page check and is
    * reported as truncated — indistinguishable from a real cut without
    * the header's (unreliable) page count; we prefer a loud false
    * positive on a malformed-anyway file over the silent short read
    * both shapes produced before this check, and mode=permissive reads
    * such a file fully (every whole page is present). */
  private[readstat] def truncationSuspect(path: String, md: SasMeta): Boolean = {
    val len = new java.io.File(path).length()
    if ((len - md.headerLength) % math.max(1, md.pageLength) != 0) return true
    if (md.compression == 0 && md.rowLength > 0) {
      val cap = md.pageCount.toLong * (md.pageLength / md.rowLength).toLong
      if (md.rowCount > cap) return true
    }
    false
  }

  private def failIfTruncated(path: String, md: SasMeta,
      opts: ReadstatOptions): Unit =
    if (!opts.salvage && truncationSuspect(path, md))
      throw new java.io.EOFException(
        s"sas7bdat appears truncated: $path declares ${md.rowCount} rows " +
          s"against ${md.pageCount} whole physical pages, or carries a " +
          "partial-page tail (a complete file with appended junk bytes " +
          "trips this too; mode=permissive reads the whole pages present)")

  override def exactRowCount(path: String, opts: ReadstatOptions): Option[Long] = {
    val md = metadata(path)
    // the declared count is only trustworthy when the page grid is
    // physically whole — a truncated file must fall through to the
    // scan's loud error (COUNT(*) answered from a stale header count
    // was this check's original gap)
    val need = md.headerLength.toLong + md.pageCount.toLong * md.pageLength
    if (new java.io.File(path).length() >= need && !truncationSuspect(path, md))
      Some(md.rowCount)
    else None
  }

  /** Page-range partitions ignore the pushed limit (rows-per-page needs
    * an index pass) — the scan builder must keep Catalyst's Limit. */
  override def plansExactLimit: Boolean = false

  /** Per-page data-row prefix sums for either regime (one page-header
    * pass for uncompressed, one page pass for RLE/RDC), cached per
    * (path, size, mtime) like the compressed prefix. */
  private def pagePrefix(path: String): Array[Long] = {
    val md = metadata(path)
    if (md.compression != 0) compressedPagePrefix(path)
    else pagePrefixCache.computeIfAbsent(keyOf(path), _ => pageRowOffsets(path))
  }

  /** OFFSET pushdown for SAS (the reference's `with_offset` sliced read,
    * src/sas/polars_output.rs:1421-1536, done with an exact prefix
    * index instead of its adaptive estimation+lookback): one cached
    * page-row prefix pass finds the page containing the offset row;
    * partitions start there with `skipRows` dropping the mid-page
    * remainder — slots are addressed positionally, so the skip decodes
    * nothing. A pushed LIMIT is refused (`plansExactLimit=false`: the
    * planner cannot cap the tail row-exactly), so `limit` here can only
    * arrive through a caller bug — refuse it loudly by returning None. */
  // (multi-file scans never carry a pushed limit alongside SAS files:
  // plansExactLimit=false refuses the limit push, so the per-file
  // planPartitionsAt call at plan time always sees limit=None)
  override def plansOffset(path: String, opts: ReadstatOptions): Boolean = true

  override def planPartitionsAt(path: String, opts: ReadstatOptions,
      offset: Long, limit: Option[Long]): Option[Seq[RangePartition]] = {
    if (limit.isDefined) return None
    val md = metadata(path)
    val total = md.rowCount
    val off0 = math.min(math.max(0L, offset), total)
    if (md.pageCount == 0 || total - off0 <= 0)
      return Some(Seq(RangePartition(path, 0, 0)))
    val prefix = pagePrefix(path)
    // last page whose prefix (rows before it) is <= off0 — binary
    // search, the prefix is sorted (this runs twice per query: the
    // pushOffset probe and planInputPartitions). Phantom trailing row
    // subheaders only overcount the FINAL page's own count, never a
    // prefix at or below off0 < rowCount
    val sp = {
      val found = java.util.Arrays.binarySearch(prefix, 0, md.pageCount, off0)
      // exact hit may land on the FIRST of several equal prefixes
      // (empty pages); advance to the last page holding that prefix
      if (found >= 0) {
        var i = found
        while (i + 1 < md.pageCount && prefix(i + 1) == off0) i += 1
        i
      } else math.max(0, -(found + 1) - 1) // insertion point - 1
    }
    val pagesPerPart =
      math.max(1L, opts.partitionTargetBytes / math.max(1, md.pageLength))
    val n = md.pageCount.toLong
    Some((sp.toLong until n by pagesPerPart).map { s =>
      RangePartition(path, s, math.min(pagesPerPart, n - s),
        rowsBefore = Some(prefix(s.toInt)),
        skipRows = if (s == sp) off0 - prefix(sp) else 0L)
    })
  }

  override def planPartitions(path: String, opts: ReadstatOptions,
      limit: Option[Long]): Seq[RangePartition] = {
    val md = metadata(path)
    val pagesPerPart = math.max(1L, opts.partitionTargetBytes / math.max(1, md.pageLength))
    val n = md.pageCount.toLong
    if (n == 0) return Seq(RangePartition(path, 0, 0))
    if (md.compression != 0) {
      // small file → one partition, no index pass needed
      if (n <= pagesPerPart) return Seq(RangePartition(path, 0, n))
      val prefix = compressedPagePrefix(path)
      return (0L until n by pagesPerPart).map { s =>
        RangePartition(path, s, math.min(pagesPerPart, n - s),
          rowsBefore = Some(prefix(s.toInt)))
      }
    }
    // uncompressed: page-range partitions
    (0L until n by pagesPerPart).map { s =>
      RangePartition(path, s, math.min(pagesPerPart, n - s))
    }
  }

  /** Same rule as the other fixed-width modules: predicates evaluate on
    * decoded output values; compress narrowing / overrides refuse. */
  override def canEvalFilter(path: String, opts: ReadstatOptions,
      filter: org.apache.spark.sql.sources.Filter): Boolean = {
    if (opts.compress || opts.schemaOverrides.nonEmpty) return false
    val types = schema(path, opts).fields.map(f => f.name -> f.dataType).toMap
    PushedFilters.isSupported(filter, types.get)
  }

  /** One ColumnarBatch per data-bearing page: per-column tight loops over
    * the page's fixed-width row slots (rows never span pages). RLE/RDC
    * pages decompress their row subheaders into one contiguous page-local
    * buffer first, then run the same column loops over it.
    *
    * Pushed filters (r12): rows are addressed through a per-page offset
    * array, so filtering needs no byte compaction at all — the predicate
    * evaluates per slot and failing offsets simply drop out of `offs`
    * before the column loops run. */
  override def columnarRows(part: RangePartition, opts: ReadstatOptions,
      required: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter])
      : Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
    import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

    val md = metadata(part.path)
    failIfTruncated(part.path, md, opts)
    val byName = md.columns.map(_.name).zipWithIndex.toMap
    // (col or null = row index, kind, numeric label LUT, char label map,
    //  indicator flag)
    val plans: Array[(SasColumn, Kind, DoubleByteLut, Map[String, String], Boolean)] =
      required.fields.map { f =>
        if (opts.rowIndexName.contains(f.name)) (null, KNum, null, null, false)
        else {
          val (base, ind) =
            if (opts.informativeNulls && f.name.endsWith(opts.informativeNullSuffix) &&
                byName.contains(f.name.stripSuffix(opts.informativeNullSuffix)) &&
                !byName.contains(f.name))
              (f.name.stripSuffix(opts.informativeNullSuffix), true)
            else (f.name, false)
          val c = md.columns(byName(base))
          val numLut =
            if (!ind && opts.valueLabelsAsStrings)
              catalogLabels(opts, c).map(new DoubleByteLut(_)).orNull
            else null
          val chLabels =
            if (!ind && opts.valueLabelsAsStrings) catalogCharLabels(opts, c).orNull
            else null
          (c, kindFor(c), numLut, chLabels, ind)
        }
      }
    val rowIndexBase: Long = part.rowsBefore.getOrElse(
      if (opts.rowIndexName.isDefined && md.compression == 0)
        pageRowOffsets(part.path)(part.startRow.toInt)
      else 0L)
    val cs = md.charset
    val little = md.little
    val rowLen = md.rowLength
    val startPage = part.startRow.toInt
    val endPage = (part.startRow + part.numRows).toInt
    // phantom trailing row subheaders only
    // exist at the end of the file
    val capRows: Long = part.rowsBefore match {
      case Some(before) => math.max(0L, md.rowCount - before)
      case None =>
        if (startPage == 0 && endPage >= md.pageCount) md.rowCount else Long.MaxValue
    }

    // bytes-predicate over filter cells of one row slot (plain numeric /
    // char shapes plus, r13, temporal kinds — they box the decoded
    // Integer-days / Long-micros internal value PushedFilters compares
    // in long space). Labeled columns decode to label STRINGS the
    // predicate expects (typeByName says StringType) — a raw-double
    // decoder would CCE, so their conjuncts don't compile and fall to
    // the residual (same rule as the dta/sav/xpt modules).
    val cellDecoders = scala.collection.mutable.ArrayBuffer[(Array[Byte], Int) => Any]()
    val slotIdx = scala.collection.mutable.HashMap[String, Int]()
    if (pushed.nonEmpty) pushed.flatMap(_.references).distinct.foreach { name =>
      byName.get(name).foreach { ci =>
        val c = md.columns(ci)
        val kind = kindFor(c)
        val labeled = opts.valueLabelsAsStrings &&
          (catalogLabels(opts, c).isDefined ||
            catalogCharLabels(opts, c).isDefined)
        if (!labeled) {
          val dec: (Array[Byte], Int) => Any =
            if (kind == KChar) { (b, base) =>
              val off = base + c.offset
              var end = off + c.length
              while (end > off && (b(end - 1) == ' ' || b(end - 1) == 0)) end -= 1
              var stop = off
              while (stop < end && b(stop) != 0) stop += 1
              if (stop == off) {
                if (opts.missingStringAsNull) null else UTF8String.fromString("")
              } else UTF8String.fromString(new String(b, off, stop - off, cs))
            } else {
              val numDec: (Array[Byte], Int) => java.lang.Double = (b, base) => {
                val v = SasCore.incompleteDouble(b, base + c.offset, c.length, little)
                if (v.isNaN || v.isInfinite) null else java.lang.Double.valueOf(v)
              }
              kind match {
                case KDate => (b, base) => {
                  val x = numDec(b, base)
                  if (x == null) null
                  else java.lang.Integer.valueOf(SasCore.toDateDays(x.doubleValue))
                }
                case KDatetime => (b, base) => {
                  val x = numDec(b, base)
                  if (x == null) null
                  else java.lang.Long.valueOf(SasCore.toDatetimeMicros(x.doubleValue))
                }
                case KTime => (b, base) => {
                  val x = numDec(b, base)
                  if (x == null) null
                  else java.lang.Long.valueOf(SasCore.toTimeNanos(x.doubleValue))
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
    // unboxed — missing/NaN/Inf → NaN in double space / reject in long
    // space, both skip-sound under the residual.
    val fastPred: (Array[Byte], Int) => Boolean =
      if (bytesPred == null) null
      else PushedFilters.asInterval(pushed.toSeq, typeByName.get) match {
        case Some(iv) => byName.get(iv.col) match {
          case Some(fci) =>
            val fc = md.columns(fci)
            val labeled = opts.valueLabelsAsStrings &&
              (catalogLabels(opts, fc).isDefined ||
                catalogCharLabels(opts, fc).isDefined)
            if (labeled || kindFor(fc) == KChar) null
            else {
              val rawD: (Array[Byte], Int) => Double = (b, base) => {
                val v = SasCore.incompleteDouble(b, base + fc.offset,
                  fc.length, little)
                if (v.isInfinite) Double.NaN else v
              }
              (iv, kindFor(fc)) match {
                case (PushedFilters.DoubleInterval(_, lo, loInc, hi, hiInc), _) =>
                  (b, base) =>
                    PushedFilters.inDouble(rawD(b, base), lo, loInc, hi, hiInc)
                case (PushedFilters.LongInterval(_, lo, hi), KDate) =>
                  (b, base) => {
                    val d = rawD(b, base)
                    !d.isNaN && {
                      val x = SasCore.toDateDays(d).toLong
                      x >= lo && x <= hi
                    }
                  }
                case (PushedFilters.LongInterval(_, lo, hi), KDatetime) =>
                  (b, base) => {
                    val d = rawD(b, base)
                    !d.isNaN && {
                      val x = SasCore.toDatetimeMicros(d)
                      x >= lo && x <= hi
                    }
                  }
                case (PushedFilters.LongInterval(_, lo, hi), KTime) =>
                  (b, base) => {
                    val d = rawD(b, base)
                    !d.isNaN && {
                      val x = SasCore.toTimeNanos(d)
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

    val raf = new RandomAccessFile(part.path, "r")
    raf.seek(md.headerLength.toLong + startPage.toLong * md.pageLength)
    val page = new Array[Byte](md.pageLength)

    new Iterator[ColumnarBatch] {
      private var pageIdx = startPage
      private var emitted = 0L
      // OFFSET pushdown: leading rows to drop from the first page(s)
      private var toSkip = part.skipRows
      // prefetched page's rows: buffer + per-row offsets (buffer is the
      // page itself when nothing needed decompression)
      private var pendingBuf: Array[Byte] = _
      private var pendingOffs: Array[Int] = _
      private var closed = false
      private def close(): Unit = if (!closed) { closed = true; raf.close() }

      /** Materialize one page's data rows: direct page offsets when all
        * slots are plain, else RLE/RDC-decompress each row subheader into
        * one contiguous rowLen-strided buffer. */
      private def materializePage(): Boolean = {
        val slots = pageRowSlots(page, md)
        if (slots.isEmpty) return false
        if (!slots.exists(_._3)) {
          pendingBuf = page
          pendingOffs = slots.map(_._1).toArray
        } else {
          val buf = new Array[Byte](slots.length * rowLen)
          var i = 0
          slots.foreach { case (off, len, needsDecomp) =>
            if (!needsDecomp) System.arraycopy(page, off, buf, i * rowLen, len)
            else {
              val in = java.util.Arrays.copyOfRange(page, off, off + len)
              val d = if (md.compression == 1) Rle.decompress(in, rowLen)
                      else Rdc.decompress(in, rowLen)
              System.arraycopy(d, 0, buf, i * rowLen, math.min(d.length, rowLen))
            }
            i += 1
          }
          pendingBuf = buf
          pendingOffs = Array.tabulate(slots.length)(_ * rowLen)
        }
        true
      }

      override def hasNext: Boolean = {
        if (pendingOffs != null) return true
        if (emitted >= capRows) { close(); return false }
        while (pendingOffs == null && pageIdx < endPage) {
          try raf.readFully(page)
          catch {
            case e: java.io.EOFException =>
              // planned page physically missing = truncated file: loud
              // under every mode except permissive salvage (see the row
              // path above)
              close()
              if (opts.salvage) return false
              throw new java.io.EOFException(
                s"sas7bdat truncated: page $pageIdx of ${md.pageCount} " +
                  s"missing in ${part.path} (${e.getMessage})")
          }
          pageIdx += 1
          materializePage()
        }
        if (pendingOffs == null) { close(); false } else true
      }

      // current buffer context for the bytes-predicate getter; decoded
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

      override def next(): ColumnarBatch = {
        if (!hasNext) throw new NoSuchElementException
        val buf = pendingBuf
        var offs = pendingOffs
        pendingBuf = null; pendingOffs = null
        // OFFSET pushdown: drop leading skipped slots positionally
        // (counted as consumed — capRows caps consumption). By
        // construction skipRows lands mid-FIRST-page (planPartitionsAt
        // picks the last page with prefix <= offset), so one drop here
        // always leaves the batch non-empty; the min() is just defensive
        if (toSkip > 0) {
          val k = math.min(toSkip, offs.length.toLong).toInt
          offs = java.util.Arrays.copyOfRange(offs, k, offs.length)
          emitted += k; toSkip -= k
        }
        if (emitted + offs.length > capRows)
          offs = offs.take((capRows - emitted).toInt)
        val rawN = offs.length
        val startRow = rowIndexBase + emitted
        emitted += rawN
        // pushed-filter pass: keep only passing row offsets; `sel`
        // remembers each survivor's page-local position for row indexes
        var sel: Array[Int] = null
        var n = rawN
        if (bytesPred != null) {
          val keptOff = new Array[Int](rawN)
          val keptPos = new Array[Int](rawN)
          var k = 0
          var r = 0
          while (r < rawN) {
            if (rowPass(buf, offs(r))) { keptOff(k) = offs(r); keptPos(k) = r; k += 1 }
            r += 1
          }
          if (k < rawN) {
            offs = java.util.Arrays.copyOf(keptOff, k)
            sel = java.util.Arrays.copyOf(keptPos, k)
            n = k
          }
        }
        val vectors = new Array[ColumnVector](plans.length)
        var c = 0
        while (c < plans.length) {
          val vec = new OnHeapColumnVector(math.max(n, 1), required.fields(c).dataType)
          decodeColumn(plans(c), buf, offs, n, startRow, vec, sel)
          vectors(c) = vec
          c += 1
        }
        new ColumnarBatch(vectors, n)
      }

      private def decodeColumn(pl: (SasColumn, Kind, DoubleByteLut, Map[String, String], Boolean),
          page: Array[Byte],
          offs: Array[Int], n: Int,
          startRow: Long, vec: OnHeapColumnVector, sel: Array[Int] = null): Unit = {
        val (col, kind, numLut, chLabels, indicator) = pl
        if (col == null) { // row index (filtered batches map through sel)
          var r = 0
          if (sel == null) while (r < n) { vec.putLong(r, startRow + r); r += 1 }
          else while (r < n) { vec.putLong(r, startRow + sel(r)); r += 1 }
          return
        }
        if (indicator) {
          // SAS tagged missing (missingTagOffset rule): char
          // columns never tag; k 1..26 -> ".A"-".Z", 27 -> "._"
          var r = 0
          while (r < n) {
            if (col.isChar) vec.putNull(r)
            else {
              val k = SasModule.missingTagIn(page, offs(r) + col.offset,
                col.length, little)
              if (k >= 1 && k <= 26) {
                val b = ("." + ('A' + k - 1).toChar)
                  .getBytes(java.nio.charset.StandardCharsets.UTF_8)
                vec.putByteArray(r, b, 0, b.length)
              } else if (k == 27) {
                val b = "._".getBytes(java.nio.charset.StandardCharsets.UTF_8)
                vec.putByteArray(r, b, 0, b.length)
              } else vec.putNull(r)
            }
            r += 1
          }
          return
        }
        if (kind == KChar) {
          var r = 0
          while (r < n) {
            val off = offs(r) + col.offset
            var end = off + col.length
            while (end > off && (page(end - 1) == ' ' || page(end - 1) == 0)) end -= 1
            var stop = off
            while (stop < end && page(stop) != 0) stop += 1
            if (stop == off) {
              if (opts.missingStringAsNull) vec.putNull(r)
              else vec.putByteArray(r, Array.emptyByteArray, 0, 0)
            } else {
              val s = new String(page, off, stop - off, cs)
              // char-format catalog labels: matched codes map, unmatched
              // pass through (reference replace_strict default)
              val out = if (chLabels != null) chLabels.getOrElse(s, s) else s
              val b = out.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              vec.putByteArray(r, b, 0, b.length)
            }
            r += 1
          }
        } else if (numLut != null) {
          // catalog-labeled numeric -> DICTIONARY-encoded string vector
          // (one id putInt per cell; unlabeled codes get per-batch ids)
          val dict = new LabelDictionary(numLut.baseBytes)
          vec.setDictionary(dict)
          val dictIds = vec.reserveDictionaryIds(n)
          var r = 0
          while (r < n) {
            val v = SasCore.incompleteDouble(page, offs(r) + col.offset,
              col.length, little)
            if (v.isNaN || v.isInfinite) vec.putNull(r)
            else {
              val id = numLut.id(v)
              if (id >= 0) dictIds.putInt(r, id)
              else dictIds.putInt(r,
                dict.fallbackId(java.lang.Double.doubleToLongBits(v),
                  () => NumRender.code(v).getBytes(
                    java.nio.charset.StandardCharsets.UTF_8)))
            }
            r += 1
          }
        } else {
          var r = 0
          while (r < n) {
            val v = SasCore.incompleteDouble(page, offs(r) + col.offset,
              col.length, little)
            if (v.isNaN || v.isInfinite) vec.putNull(r)
            else kind match {
              case KDate => vec.putInt(r, SasCore.toDateDays(v))
              case KDatetime => vec.putLong(r, SasCore.toDatetimeMicros(v))
              case KTime => vec.putLong(r, SasCore.toTimeNanos(v))
              case _ => vec.putDouble(r, v)
            }
            r += 1
          }
        }
      }
    }
  }
}
