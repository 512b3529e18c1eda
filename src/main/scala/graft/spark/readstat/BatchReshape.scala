package graft.spark.readstat

import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** The connector's one read path for a range partition: the module
  * decodes the file's NATURAL columns into batches, and whole vectors
  * are then reshaped into the scan's required schema —
  *
  *  - compress narrowing, schema overrides and `mergeSchema` widening
  *    cast vectors ([[Narrowing.castingBatchIterator]]);
  *  - `struct` informative nulls expose the (main, indicator) vectors as
  *    the children of one struct vector, `merged` builds a string vector
  *    from them ([[InformativeNulls]]);
  *  - `mergeSchema` columns the file lacks become constant-null vectors.
  *    When the file holds none of the required columns, its first
  *    natural column is decoded only to learn each batch's row count.
  *
  * Batch scans and the streaming source both read through here.
  */
private[readstat] object BatchReshape {

  private sealed trait Out
  private final case class Pass(slot: Int) extends Out
  private final case class AsStruct(main: Int, ind: Int) extends Out
  private final case class AsMerged(main: Int, ind: Int) extends Out
  private case object Absent extends Out

  /** A file column for a required name: the exact spelling first, then
    * — under `mergeSchema` in a case-insensitive session, the rule
    * [[Formats.mergedSchema]] unions names by — any spelling. */
  private def lookup(fields: Array[StructField], name: String,
      opts: ReadstatOptions, caseSensitive: Boolean): Option[StructField] =
    fields.find(_.name == name).orElse(
      if (!opts.mergeSchema || caseSensitive) None
      else fields.find(_.name.equalsIgnoreCase(name)))

  def batches(part: RangePartition, opts: ReadstatOptions,
      required: StructType, pushed: Array[Filter],
      caseSensitive: Boolean): Iterator[ColumnarBatch] = {
    val module = Formats.moduleFor(part.path)
    val natOpts = opts.decodeNatural
    val natural = module.schema(part.path, natOpts)
    val mode = opts.informativeNullMode
    val pairs: Map[String, String] =
      if (!opts.informativeNulls || mode == "column") Map.empty
      else InformativeNulls.pairs(natural,
        module.schema(part.path, natOpts.copy(informativeNulls = false)),
        opts.informativeNullSuffix).toMap
    val natByName = natural.fields.map(f => f.name -> f).toMap

    // decoded: natural columns requested from the module; cast: the type
    // each is cast to before assembly
    val decoded = scala.collection.mutable.ArrayBuffer[StructField]()
    val cast = scala.collection.mutable.ArrayBuffer[DataType]()
    def slot(f: StructField, to: DataType): Int = {
      decoded += f; cast += to; decoded.length - 1
    }
    val plan: Array[Out] = required.fields.map { f =>
      lookup(natural.fields, f.name, opts, caseSensitive) match {
        case Some(nat) if pairs.contains(nat.name) =>
          val ind = natByName(pairs(nat.name))
          if (mode == "struct") {
            val inner = f.dataType.asInstanceOf[StructType].fields(0).dataType
            AsStruct(slot(nat, inner), slot(ind, ind.dataType))
          } else AsMerged(slot(nat, nat.dataType), slot(ind, ind.dataType))
        case Some(nat) => Pass(slot(nat, f.dataType))
        case None if opts.mergeSchema => Absent
        case None => throw new IllegalArgumentException(
          s"readstat: ${part.path} has no column(s) ${f.name} — reading " +
            "files with differing schemas requires .option(\"mergeSchema\", \"true\")")
      }
    }
    if (decoded.isEmpty && required.nonEmpty) slot(natural.fields.head,
      natural.fields.head.dataType)
    val from = StructType(decoded.toSeq)
    val to = StructType(decoded.indices.map(i => decoded(i).copy(dataType = cast(i))))

    // filters reach the decoder only for columns it emits under their
    // required name (the modules compile them against natural types);
    // the rest stay Catalyst residuals
    val emitted = plan.iterator.zip(required.fields.iterator).collect {
      case (Pass(s), f) if decoded(s).name == f.name => f.name -> decoded(s).dataType
    }.toMap
    val filters = pushed.filter(f => f.references.forall(emitted.contains) &&
      PushedFilters.isSupported(f, emitted.get))

    val it = Narrowing.castingBatchIterator(
      module.columnarRows(part, natOpts, from, filters), from, to)
    if (plan.indices.forall(i => plan(i) == Pass(i)) && decoded.length == plan.length) it
    else it.map { b =>
      val n = b.numRows
      val vecs = Array.tabulate[ColumnVector](plan.length) { i =>
        plan(i) match {
          case Pass(s) => b.column(s)
          case AsStruct(m, k) => new InformativeNulls.PairVector(
            required(i).dataType.asInstanceOf[StructType], b.column(m), b.column(k))
          case AsMerged(m, k) =>
            InformativeNulls.mergedVector(b.column(m), from(m).dataType, b.column(k), n)
          case Absent =>
            val v = new ConstantColumnVector(math.max(n, 1), required(i).dataType)
            v.setNull()
            v
        }
      }
      new ColumnarBatch(vecs, n)
    }
  }
}
