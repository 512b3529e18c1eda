package graft.spark.readstat

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** One statistical-file format (dta/sav/sas7bdat/xpt/por) as seen by the
  * DSv2 connector: driver-side schema + partition planning, executor-side
  * columnar decoding. Implementations must keep `metadata` cheap
  * (header/meta parse only — no data read) because it runs at planning
  * time, and [[columnarRows]] embarrassingly parallel across disjoint
  * row ranges.
  */
trait FormatModule extends Serializable {

  /** Full (unpruned) schema for the file under the given options. */
  def schema(path: String, opts: ReadstatOptions): StructType

  /** Plan row-range partitions. `limit` is the pushed-down row cap.
    * Implementations choose the regime the format supports: fixed-width
    * seek → many ranges; sequential-only (compressed) → single range.
    */
  def planPartitions(path: String, opts: ReadstatOptions,
      limit: Option[Long]): Seq[RangePartition]

  /** Whether [[planPartitions]] with a limit plans partitions that emit
    * EXACTLY the first-`limit` file rows — the precondition for the
    * scan builder to accept the limit with `isPartiallyPushed=false`
    * (Catalyst then deletes its Limit operator). SAS overrides false:
    * its page-range planner cannot map a row limit to pages without an
    * index pass, so it plans every page and relies on Catalyst's kept
    * Limit — accepting there would silently return the whole file. */
  def plansExactLimit: Boolean = true

  /** Plan partitions that emit exactly the first-`limit` rows of the
    * file with the first `offset` of them dropped — the DSv2
    * OFFSET-pushdown contract (rows [offset, min(limit, rowCount))).
    * None when the format cannot START at an arbitrary row without
    * decoding everything before it (compressed/sequential regimes,
    * page-grained SAS) — the scan builder then refuses `pushOffset`
    * and Catalyst keeps its Offset operator, so refusal is always
    * correct, just unaccelerated. */
  def planPartitionsAt(path: String, opts: ReadstatOptions, offset: Long,
      limit: Option[Long]): Option[Seq[RangePartition]] = None

  /** Cheap (no index build, no file read) answer to "would
    * [[planPartitionsAt]] with no limit be defined for this file?" —
    * the multi-file pushOffset probe, where calling planPartitionsAt
    * per file could build a checkpoint index per file before the push
    * is even accepted. Must be consistent with planPartitionsAt. */
  def plansOffset(path: String, opts: ReadstatOptions): Boolean = false

  /** Shared clamp/stride arithmetic for the O(1)-seekable
    * [[planPartitionsAt]] implementations (dta/xpt/uncompressed sav):
    * row ranges covering [clamp(offset), min(limit, rowCount)), strided
    * by partitionTargetBytes worth of fixed-width rows. One definition —
    * an edge-case fix here must not be applied three times. */
  protected final def seekableRowRanges(path: String, opts: ReadstatOptions,
      offset: Long, limit: Option[Long], rowCount: Long,
      rowLen: Int): Seq[RangePartition] = {
    val total = limit.map(math.min(_, rowCount)).getOrElse(rowCount)
    val start0 = math.min(math.max(0L, offset), total)
    if (total - start0 <= 0) return Seq(RangePartition(path, start0, 0))
    val rowsPerPart =
      math.max(1L, opts.partitionTargetBytes / math.max(1, rowLen))
    (start0 until total by rowsPerPart).map { start =>
      RangePartition(path, start, math.min(rowsPerPart, total - start))
    }
  }

  /** Exact total data-row count when obtainable from metadata alone
    * (header fields, record-length arithmetic, page indexes) — the basis
    * for COUNT(*) aggregate pushdown, where a count never touches row
    * data. None when the format can only learn the count by decoding
    * (e.g. POR's end-marker-terminated stream). */
  def exactRowCount(path: String, opts: ReadstatOptions): Option[Long] = None

  /** Rows decodable from the intact prefix of a possibly-truncated file
    * (`mode=permissive`): for fixed-width seekable regimes this is exact
    * arithmetic — complete rows physically present in the data region,
    * capped at the header's row count — so the planner can clamp its
    * row-addressed partitions instead of relying on where mid-decode
    * exceptions happen to land. Only meaningful for modules whose
    * [[RangePartition]]s are row-addressed; None where the row count
    * cannot be known without decoding (compressed/sequential regimes,
    * page-grained SAS — the executor-side salvage backstop covers
    * those). Must never throw on a file whose [[schema]] parsed. */
  def salvageableRowCount(path: String, opts: ReadstatOptions): Option[Long] = None

  /** Whether [[columnarRows]] decodes `required` as declared: every
    * field is a column of the file's natural schema with its natural
    * type, and no type-reshaping regime (compress, schema overrides) is
    * on. The connector reshapes everything else on the batches
    * ([[BatchReshape]]) and decodes the natural columns. */
  final def supportsColumnar(path: String, opts: ReadstatOptions,
      required: StructType): Boolean = {
    if (opts.compress || opts.schemaOverrides.nonEmpty) return false
    val byName = schema(path, opts).fields.map(f => f.name -> f.dataType).toMap
    required.fields.forall(f => byName.get(f.name).contains(f.dataType))
  }

  /** Decode one partition into
    * [[org.apache.spark.sql.vectorized.ColumnarBatch]]es holding only
    * the `required` columns (a subset of the natural `schema`, in
    * requested order) with per-column tight loops. Runs on executors.
    *
    * Implementations that honor `pushed` must only SKIP rows the filters
    * definitely reject (Catalyst re-applies the residual predicate, so
    * emitting extra rows is always safe — dropping a passing row never
    * is). */
  def columnarRows(part: RangePartition, opts: ReadstatOptions,
      required: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]

  /** [[columnarRows]] viewed row by row, for the driver-side compress
    * probe and direct decoder tests. The rows are views into the current
    * batch: read each before advancing. */
  final def rows(part: RangePartition, opts: ReadstatOptions,
      required: StructType,
      pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : Iterator[InternalRow] = {
    import scala.jdk.CollectionConverters._
    columnarRows(part, opts, required, pushed).flatMap(_.rowIterator().asScala)
  }

  /** Whether this module can evaluate the pushed filter against its
    * decoded output values (the basis of the scan builder's
    * pushedFilters() claim). Purely advisory: every pushed filter is
    * also returned as a residual, so a module that answers true here
    * but ignores the filter at decode time (e.g. the columnar regime
    * can't skip on that column) stays correct — it just skips fewer
    * rows. See [[PushedFilters]]. */
  def canEvalFilter(path: String, opts: ReadstatOptions,
      filter: org.apache.spark.sql.sources.Filter): Boolean = false
}

/** THE integral-rendering rule for numeric value-label codes: exact
  * integers print without a decimal point (the form label tables key
  * on), the 1e15 guard keeps huge doubles off the lossy Long render.
  * One definition — per-format copies of this rule drifted once
  * (review r11: a metadata branch lost the 1e15 guard). */
private[readstat] object NumRender {
  def code(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

/** Decoder state at a row boundary of a compressed SPSS stream: the
  * uncompressed-logical offset of the next byte, plus the pending
  * control-byte group. Lets an executor start decoding mid-stream
  * without replaying everything before its range. */
final case class SavCheckpoint(uOff: Long, ctrl: Array[Byte], ctrlI: Int)

/** Decoder state at a row boundary of a POR stream: file byte offset,
  * position within the current 80-char line, and pending pad spaces —
  * the POR analog of [[SavCheckpoint]] (r11: parallel POR partitions
  * via the plan-time cell-boundary skim in `PorCore.buildIndex`). */
final case class PorResume(byteOff: Long, pos: Int, pending: Int)

/** A contiguous row range of one file. `startRow`/`numRows` are in file row
  * order. `sav` carries the compressed-stream entry point for SPSS
  * bytecode/zsav partitions (None for seekable formats and for legacy
  * sequential reads). `rowsBefore` is the exact number of data rows before
  * this partition's range (SAS page-range partitions: row-index base and
  * the global row-count cap without a sequential scan).
  */
final case class RangePartition(
    path: String,
    startRow: Long,
    numRows: Long,
    sav: Option[SavCheckpoint] = None,
    rowsBefore: Option[Long] = None,
    por: Option[PorResume] = None,
    // SAS OFFSET pushdown: data rows to drop from the front of this
    // partition's page range (the pushed offset lands mid-page; slots
    // are addressed without decode, so the skip is free). Other
    // formats plan partitions AT the offset row and never set this.
    skipRows: Long = 0L)
  extends org.apache.spark.sql.connector.read.InputPartition

/** Scan/write options (mirrors the reference's ScanOptions surface,
  * reference: src/lib.rs:80-132, python __init__.py:498-676).
  */
final case class ReadstatOptions(
    valueLabelsAsStrings: Boolean = false,
    missingStringAsNull: Boolean = true,
    rowIndexName: Option[String] = None,
    catalog: Option[String] = None,
    informativeNulls: Boolean = false,
    informativeNullSuffix: String = "_null",
    informativeNullMode: String = "column", // column | struct | merged
    // reference InformativeNullOpts.columns ("all" | named list) and
    // use_value_labels (default true): prefer a defined value label for
    // the indicator string over the code form (lib.rs:115-131)
    informativeNullCols: Set[String] = Set.empty, // empty = all eligible
    informativeNullUseValueLabels: Boolean = true,
    partitionTargetBytes: Long = 128L * 1024 * 1024,
    batchRows: Int = 0, // 0 = auto (~2M cells per batch)
    compress: Boolean = false,
    timeAsTimeType: Boolean = false,
    compressProbeRows: Int = 1000,
    // read-side compress sub-flags (reference CompressOptionsLite,
    // lib.rs:162-168: cols / compress_numeric / datetime_to_date /
    // string_to_numeric). All default ON so `compress=true` alone
    // matches the reference's `compress=True` bool form.
    compressCols: Set[String] = Set.empty, // empty = every column
    compressNumeric: Boolean = true,
    compressDatetimeToDate: Boolean = true,
    compressStringToNumeric: Boolean = true,
    schemaOverrides: String = "",
    mergeSchema: Boolean = false,
    // 0 = admit new stream files immediately (this library's writers
    // rename atomically into place and .inprogress temps are filtered,
    // so presence == completeness — same contract as Spark's built-in
    // file source). Set >0 for landing zones written by foreign
    // NON-atomic writers: a file is then admitted only after its
    // (size, mtime) signature has been stable that long across triggers
    // (non-blocking; admission lags arrival by >= one trigger interval).
    streamStabilityMs: Long = 0L,
    // malformed-input handling for batch scans (the CSV/JSON source's
    // mode surface, re-expressed for binary stat files — at 100 TB one
    // truncated upload must not kill a 1000-executor ingest):
    //   failfast (default) — any corruption anywhere throws (today's
    //     behavior, and the only mode the metadata-trusting pushdowns
    //     — COUNT(*), exact statistics row counts, multi-file
    //     limit/offset windows — are allowed to engage under);
    //   dropmalformed — files whose HEADER/metadata fails to parse are
    //     dropped from the scan (and from schema inference) with a
    //     warning; data-region corruption in a file whose header read
    //     fine still throws;
    //   permissive — dropmalformed, plus data-region salvage: fixed-
    //     width regimes clamp their planned row ranges to the complete
    //     rows physically present (truncated-tail arithmetic), and any
    //     remaining mid-decode failure ends that partition's output
    //     with the rows already decoded rather than the query.
    mode: String = ReadstatOptions.ModeFailfast) {

  def tolerant: Boolean = mode != ReadstatOptions.ModeFailfast
  def salvage: Boolean = mode == ReadstatOptions.ModePermissive

  /** Reference InformativeNullColumns: empty set = "all" eligible. */
  def infoNullEligible(name: String): Boolean =
    informativeNullCols.isEmpty || informativeNullCols.contains(name)

  /** The same options with the type-reshaping regimes stripped: the r13
    * columnar-narrowing path decodes batches with the format's NATURAL
    * types (modules refuse compress/overrides, their loops write native
    * values) and the connector casts whole vectors afterwards
    * ([[Narrowing.castingBatchIterator]]). */
  def decodeNatural: ReadstatOptions =
    if (!compress && schemaOverrides.isEmpty) this
    else copy(compress = false, schemaOverrides = "")
}

object ReadstatOptions {
  val ModeFailfast = "failfast"
  val ModeDropMalformed = "dropmalformed"
  val ModePermissive = "permissive"

  def from(m: java.util.Map[String, String]): ReadstatOptions = {
    def parse[T](k: String, dflt: T)(f: String => T): T =
      Option(m.get(k)).map { raw =>
        try f(raw.trim)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"readstat: invalid value '$raw' for option '$k': ${e.getMessage}") }
      }.getOrElse(dflt)
    def b(k: String, dflt: Boolean) = parse(k, dflt)(_.toBoolean)
    ReadstatOptions(
      valueLabelsAsStrings = b("valueLabelsAsStrings", dflt = false),
      missingStringAsNull = b("missingStringAsNull", dflt = true),
      rowIndexName = Option(m.get("rowIndexName")).filter(_.nonEmpty),
      catalog = Option(m.get("catalog")).filter(_.nonEmpty),
      informativeNulls = b("informativeNulls", dflt = false),
      informativeNullSuffix =
        Option(m.get("informativeNullSuffix")).getOrElse("_null"),
      informativeNullMode = parse("informativeNullMode", "column") { v =>
        val norm = v.toLowerCase
        require(Set("column", "struct", "merged").contains(norm),
          "expected one of: column, struct, merged")
        norm
      },
      informativeNullCols = Option(m.get("informativeNullCols")).map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty),
      informativeNullUseValueLabels = b("informativeNullUseValueLabels", dflt = true),
      partitionTargetBytes =
        parse("partitionTargetBytes", 128L * 1024 * 1024)(_.toLong),
      batchRows = parse("batchRows", 0)(_.toInt),
      compress = b("compress", dflt = false),
      timeAsTimeType = b("timeAsTimeType", dflt = false),
      compressProbeRows = parse("compressProbeRows", 1000)(_.toInt),
      compressCols = Option(m.get("compressCols")).map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty),
      compressNumeric = b("compressNumeric", dflt = true),
      compressDatetimeToDate = b("compressDatetimeToDate", dflt = true),
      compressStringToNumeric = b("compressStringToNumeric", dflt = true),
      schemaOverrides = Option(m.get("schemaOverrides")).getOrElse(""),
      mergeSchema = b("mergeSchema", dflt = false),
      streamStabilityMs = parse("streamStabilityMs", 0L)(_.toLong),
      mode = parse("mode", defaultMode(m)) { v =>
        val norm = v.toLowerCase
        require(Set(ModeFailfast, ModeDropMalformed, ModePermissive)
          .contains(norm),
          "expected one of: failfast, dropmalformed, permissive")
        norm
      })
  }

  /** Spark-idiomatic default: with no explicit `mode` option, honor the
    * session's `spark.sql.files.ignoreCorruptFiles` (the built-in file
    * sources' corrupt-file switch) as `dropmalformed`. Resolved ONCE on
    * the driver at option parse — every call site is planning-side and
    * executors receive the resolved options object, so the decision
    * cannot diverge across the cluster. An explicit `mode` always wins
    * (including `mode=failfast` overriding the conf). */
  private def defaultMode(m: java.util.Map[String, String]): String =
    if (m.containsKey("mode")) ModeFailfast // unused: explicit value parses
    else try {
      if (org.apache.spark.sql.internal.SQLConf.get.ignoreCorruptFiles)
        ModeDropMalformed
      else ModeFailfast
    } catch { case scala.util.control.NonFatal(_) => ModeFailfast }
}
