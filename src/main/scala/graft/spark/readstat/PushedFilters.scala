package graft.spark.readstat

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Decode-skipping filter pushdown (SURVEY.md §2.2 — the designed
  * improvement over the reference's per-batch predicate application,
  * reference: python __init__.py:657-661 where the predicate reaches the
  * source but is applied after full-row decode).
  *
  * Model: the scan builder claims the conjuncts every loaded path's
  * module can evaluate ([[FormatModule.canEvalFilter]]) and reports them
  * via pushedFilters() so they are visible in the plan, but returns ALL
  * filters as post-scan residuals — Catalyst keeps its Filter node and
  * re-applies exactly (the parquet row-group-pruning contract). The
  * modules therefore only need the conservative direction: never skip a
  * row Catalyst would keep. Fixed-width formats decode ONLY the filter
  * columns of each row first and skip the remaining bytes of failing
  * rows — the skip is free because every cell is O(1)-addressable.
  *
  * Evaluation happens on the DECODED output value (the same value the
  * decoder emits), so label decode, missing-value nulling and charset
  * handling are automatically consistent with the unfiltered read.
  *
  * Null/NaN semantics match Catalyst: comparisons with a null cell are
  * not-true (row skipped — the residual Filter drops it anyway); double
  * ordering treats NaN as the largest value and ±0.0 as equal (Spark's
  * double ordering), via primitive == then Double.compare.
  */
private[readstat] object PushedFilters {

  /** Output types a pushed predicate can evaluate. Temporals are in
    * (r13): date-range filters are the most common real filter on
    * survey data — their source-Filter literals arrive as
    * java.sql.Date / java.time.* and convert ONCE at compile time to
    * the decoded internal representation (days / micros), after which
    * every row is a primitive long compare. */
  def supportedType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _: TimeType => true // nanos-of-day Long (timeAsTimeType)
    case _ => false
  }

  /** Types compared in LONG space: exact for 64-bit integrals (the
    * double path loses precision above 2^53 — a GreaterThan(col, 2^53)
    * with cell 2^53+1 would compare EQUAL and wrongly skip a kept row)
    * and the natural space for the temporal internal representations
    * (DateType = days-since-epoch Int, Timestamp[NTZ] = micros Long).
    * Cells arrive as the decoded internal value: Integer days from
    * date vectors, Long micros/nanos, any integral box
    * for LongType columns. */
  private def longSpace(dt: DataType): Boolean = dt match {
    case LongType | DateType | TimestampType | TimestampNTZType => true
    case _: TimeType => true
    case _ => false
  }

  /** Filter literal → long-space value for a long-space column type.
    * None = unconvertible (unexpected literal class — conjunct falls
    * to the residual). Fractional Float/Double literals against a
    * LongType column never arise post-analysis (Catalyst casts the
    * COLUMN, which blocks source-filter translation), so they are
    * simply rejected rather than rounded. */
  private def lit2long(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (LongType, b: java.lang.Byte) => Some(b.longValue)
    case (LongType, s: java.lang.Short) => Some(s.longValue)
    case (LongType, i: java.lang.Integer) => Some(i.longValue)
    case (LongType, l: java.lang.Long) => Some(l.longValue)
    case (DateType, d: java.sql.Date) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay)
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case (TimestampType, t: java.time.Instant) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t))
    case (_: TimeType, t: java.time.LocalTime) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localTimeToNanos(t))
    case _ => None
  }

  /** Long-space literal acceptability, for [[isSupported]]. */
  private def longLitOk(dt: DataType, v: Any): Boolean =
    lit2long(dt, v).isDefined

  /** Whether a (possibly nested And/Or/Not) filter is evaluable given
    * per-column output types. */
  def isSupported(f: Filter, typeOf: String => Option[DataType]): Boolean = {
    def colOk(name: String, value: Any): Boolean = typeOf(name) match {
      case Some(StringType) => value == null || value.isInstanceOf[String]
      case Some(dt) if longSpace(dt) => value == null || longLitOk(dt, value)
      case Some(dt) if supportedType(dt) =>
        value == null || (value match {
          case _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
               _: java.lang.Long | _: java.lang.Float | _: java.lang.Double => true
          case _ => false
        })
      case _ => false
    }
    def strCol(name: String): Boolean = typeOf(name).contains(StringType)
    f match {
      case EqualTo(c, v) => colOk(c, v) && v != null
      case EqualNullSafe(c, v) => colOk(c, v)
      case GreaterThan(c, v) => colOk(c, v) && v != null
      case GreaterThanOrEqual(c, v) => colOk(c, v) && v != null
      case LessThan(c, v) => colOk(c, v) && v != null
      case LessThanOrEqual(c, v) => colOk(c, v) && v != null
      case In(c, vs) => vs != null && vs.forall(v => colOk(c, v))
      case IsNull(c) => typeOf(c).exists(supportedType)
      case IsNotNull(c) => typeOf(c).exists(supportedType)
      case StringStartsWith(c, v) => strCol(c) && v != null
      case StringEndsWith(c, v) => strCol(c) && v != null
      case StringContains(c, v) => strCol(c) && v != null
      case And(l, r) => isSupported(l, typeOf) && isSupported(r, typeOf)
      case Or(l, r) => isSupported(l, typeOf) && isSupported(r, typeOf)
      case Not(c) => isSupported(c, typeOf)
      case _ => false
    }
  }

  private def num(a: Any): Double = a match {
    case b: java.lang.Byte => b.toDouble
    case s: java.lang.Short => s.toDouble
    case i: java.lang.Integer => i.toDouble
    case l: java.lang.Long => l.toDouble
    case f: java.lang.Float => f.toDouble
    case d: java.lang.Double => d
    case other => throw new IllegalStateException(
      s"readstat pushed filter: unexpected cell ${other.getClass}")
  }

  /** Long-space cell: the decoded internal value of a LongType or
    * temporal column — Integer days, Long micros/nanos, or any
    * integral box a module decoder emits. Float/Double cells are a
    * contract violation here (long-space compiles only for long-space
    * column types, whose decoders emit integrals). */
  private def numL(a: Any): Long = a match {
    case b: java.lang.Byte => b.longValue
    case s: java.lang.Short => s.longValue
    case i: java.lang.Integer => i.longValue
    case l: java.lang.Long => l.longValue
    case other => throw new IllegalStateException(
      s"readstat pushed filter: unexpected long-space cell ${other.getClass}")
  }

  /** Spark double ordering: ±0.0 equal, NaN == NaN and NaN largest. */
  private def cmpD(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Canonical bits for set membership under Spark equality. */
  private def canonBits(d: Double): Long =
    if (d.isNaN) java.lang.Double.doubleToLongBits(Double.NaN)
    else if (d == 0.0) java.lang.Double.doubleToLongBits(0.0)
    else java.lang.Double.doubleToLongBits(d)

  /** A compiled predicate over decoded cell values: `getter(slot)`
    * returns the decoded output value (boxed primitive / UTF8String /
    * null) for the slot [[compile]] resolved from the column name.
    * True = the row may pass; false = definitely fails → skippable. */
  type Pred = (Int => Any) => Boolean

  /** Compile the conjunction of `filters`. Conjuncts whose columns do
    * not resolve through `slotOf`, or whose shape [[isSupported]] would
    * reject, compile to always-true (ignored — the residual Filter
    * covers them); None when NOTHING compiled, so callers skip the
    * whole evaluation. */
  def compile(filters: Seq[Filter], slotOf: String => Option[Int],
      typeOf: String => Option[DataType]): Option[Pred] = {
    val compiled = filters.flatMap(f => compileOne(f, slotOf, typeOf))
    if (compiled.isEmpty) None
    else if (compiled.size == 1) Some(compiled.head)
    else Some(g => {
      var ok = true
      val it = compiled.iterator
      while (ok && it.hasNext) ok = it.next()(g)
      ok
    })
  }

  private def compileOne(f: Filter, slotOf: String => Option[Int],
      typeOf: String => Option[DataType]): Option[Pred] = {
    def leafNum(c: String)(p: (Int, Double) => Pred): Option[Pred] =
      (slotOf(c), typeOf(c)) match {
        case (Some(slot), Some(dt)) if supportedType(dt) && dt != StringType =>
          Some(p(slot, 0.0))
        case _ => None
      }
    def isStr(c: String): Boolean = typeOf(c).contains(StringType)
    def isLong(c: String): Boolean = typeOf(c).exists(longSpace)
    def leafStr(c: String, v: String)(p: (Int, UTF8String) => Pred): Option[Pred] =
      if (v == null || !isStr(c)) None
      else slotOf(c).map(slot => p(slot, UTF8String.fromString(v)))

    f match {
      case EqualTo(c, v) if v != null => cmpLeaf(c, v, slotOf, typeOf, 0, eq = true)
      case EqualNullSafe(c, null) =>
        slotOf(c).filter(_ => typeOf(c).exists(supportedType))
          .map(slot => (g: Int => Any) => g(slot) == null)
      case EqualNullSafe(c, v) => cmpLeaf(c, v, slotOf, typeOf, 0, eq = true)
      case GreaterThan(c, v) if v != null => cmpLeaf(c, v, slotOf, typeOf, 1, eq = false)
      case GreaterThanOrEqual(c, v) if v != null =>
        cmpLeaf(c, v, slotOf, typeOf, 1, eq = true)
      case LessThan(c, v) if v != null => cmpLeaf(c, v, slotOf, typeOf, -1, eq = false)
      case LessThanOrEqual(c, v) if v != null =>
        cmpLeaf(c, v, slotOf, typeOf, -1, eq = true)
      case In(c, vs) if vs != null && isLong(c) =>
        (slotOf(c), typeOf(c)) match {
          case (Some(slot), Some(dt)) if vs.forall(v =>
              v == null || lit2long(dt, v).isDefined) =>
            val set = new java.util.HashSet[java.lang.Long]()
            vs.foreach(v => if (v != null) set.add(lit2long(dt, v).get))
            Some(g => {
              val a = g(slot)
              a != null && set.contains(numL(a))
            })
          case _ => None
        }
      case In(c, vs) if vs != null && !isStr(c) && !isLong(c) &&
          vs.forall(v => v == null || !v.isInstanceOf[String]) =>
        leafNum(c) { (slot, _) =>
          val bits = new java.util.HashSet[java.lang.Long]()
          vs.foreach(v => if (v != null) bits.add(canonBits(num(v))))
          g => {
            val a = g(slot)
            a != null && bits.contains(canonBits(num(a)))
          }
        }
      case In(c, vs) if vs != null && isStr(c) &&
          vs.forall(v => v == null || v.isInstanceOf[String]) =>
        slotOf(c).map { slot =>
          val set = new java.util.HashSet[UTF8String]()
          vs.foreach(v => if (v != null)
            set.add(UTF8String.fromString(v.asInstanceOf[String])))
          g => {
            val a = g(slot)
            a != null && set.contains(a.asInstanceOf[UTF8String])
          }
        }
      case IsNull(c) =>
        slotOf(c).filter(_ => typeOf(c).exists(supportedType))
          .map(slot => (g: Int => Any) => g(slot) == null)
      case IsNotNull(c) =>
        slotOf(c).filter(_ => typeOf(c).exists(supportedType))
          .map(slot => (g: Int => Any) => g(slot) != null)
      // null cell → false (Catalyst: null prefix-match is null = not-true,
      // so the skip is sound and the residual drops the row anyway)
      case StringStartsWith(c, v) => leafStr(c, v) { (slot, want) => g =>
        val a = g(slot)
        a != null && a.asInstanceOf[UTF8String].startsWith(want)
      }
      case StringEndsWith(c, v) => leafStr(c, v) { (slot, want) => g =>
        val a = g(slot)
        a != null && a.asInstanceOf[UTF8String].endsWith(want)
      }
      case StringContains(c, v) => leafStr(c, v) { (slot, want) => g =>
        val a = g(slot)
        a != null && a.asInstanceOf[UTF8String].contains(want)
      }
      case And(l, r) =>
        // one evaluable side alone is still a sound skip test for the
        // conjunction (the other side can only make it MORE false)
        (compileOne(l, slotOf, typeOf), compileOne(r, slotOf, typeOf)) match {
          case (Some(a), Some(b)) => Some(g => a(g) && b(g))
          case (Some(a), None) => Some(a)
          case (None, Some(b)) => Some(b)
          case _ => None
        }
      case Or(l, r) =>
        // a disjunction needs BOTH sides evaluable: an uncompiled side
        // could be the one that makes the row pass
        (compileOne(l, slotOf, typeOf), compileOne(r, slotOf, typeOf)) match {
          case (Some(a), Some(b)) => Some(g => a(g) || b(g))
          case _ => None
        }
      case Not(c) =>
        // Negation is only sound over an EXACT child. Two exactness
        // holes to close: (a) a null cell makes a leaf "false" where
        // Catalyst says null — Not would flip that to a wrong keep →
        // skip only when every referenced cell is non-null; (b) the
        // And case compiles one evaluable side alone, which UNDER-
        // approximates truth — sound for positive skipping, but Not of
        // an under-approximation over-skips → require the whole child
        // tree supported (isSupported: And needs both sides) and every
        // ref resolvable, so nothing below compiled partially.
        if (!isSupported(c, typeOf)) None
        else compileOne(c, slotOf, typeOf) match {
          case Some(child) =>
            val refs = c.references
            val slots = refs.flatMap(slotOf(_))
            if (slots.length != refs.length) None
            else Some(g => {
              var anyNull = false
              var i = 0
              while (i < slots.length && !anyNull) {
                if (g(slots(i)) == null) anyNull = true
                i += 1
              }
              // null ref → Catalyst yields null (not-true) for the
              // child; Not(null) is also null → row fails the filter,
              // but OUR child-eval said false → !false = true = keep.
              // Keeping is always sound; skip only on non-null refs.
              anyNull || !child(g)
            })
          case None => None
        }
      case _ => None
    }
  }

  /** The hot pushed shape — IsNotNull + range/equality conjuncts all on
    * ONE column — reduced to a primitive interval a module can evaluate
    * with an UNBOXED per-row decoder. The generic [[compile]] path pays
    * a (megamorphic) boxed closure per conjunct per row; on a narrow
    * projection that overhead alone can cancel the decode-skip win
    * (measured: a 2%-selective date band ran slower than the unfiltered
    * read through the boxed path). Skip-soundness is the same contract
    * as [[compile]]: a cell outside the interval is definitely dropped
    * by the residual Filter; null/missing cells may evaluate either way
    * in double space (the module maps them to NaN, whose Spark-ordering
    * result is whatever it is — keep is sound, and Catalyst drops the
    * row regardless). */
  sealed trait Interval { def col: String }
  /** Inclusive long-space bounds (temporal internal representations:
    * days / micros / nanos). Plain LongType columns never reduce here —
    * modules signal null with a Long.MinValue sentinel, which a genuine
    * LongType cell could legally hold. An empty interval (lo > hi) is a
    * valid result: the conjunction is unsatisfiable and every row
    * skips. */
  final case class LongInterval(col: String, lo: Long, hi: Long)
    extends Interval
  /** Double bounds with exclusivity, evaluated under Spark's double
    * ordering (NaN largest, ±0.0 equal) via [[inDouble]]. Unbounded hi
    * is (NaN, inclusive) — NaN IS Spark's maximum, so `col > 49` keeps
    * a NaN cell exactly like Catalyst does. */
  final case class DoubleInterval(col: String, lo: Double, loInc: Boolean,
      hi: Double, hiInc: Boolean) extends Interval

  /** Reduce `filters` to a single-column [[Interval]]; None when the
    * shape doesn't fit (other conjunct kinds, several columns, string /
    * unsupported / plain-Long column) — callers fall back to
    * [[compile]]. */
  def asInterval(filters: Seq[Filter],
      typeOf: String => Option[DataType]): Option[Interval] = {
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    val fs = filters.flatMap(flat)
    if (fs.isEmpty) return None
    val cols = fs.flatMap(_.references).distinct
    if (cols.length != 1) return None
    val c = cols.head
    val dt = typeOf(c).orNull
    if (dt == null || dt == StringType || !supportedType(dt)) return None
    if (longSpace(dt)) {
      if (dt == LongType) return None // MinValue cells are legal
      var lo = Long.MinValue
      var hi = Long.MaxValue
      def lit(v: Any): Option[Long] = if (v == null) None else lit2long(dt, v)
      fs.foreach {
        case IsNotNull(_) => ()
        case EqualTo(_, v) => lit(v) match {
          case Some(x) => lo = math.max(lo, x); hi = math.min(hi, x)
          case None => return None
        }
        case GreaterThan(_, v) => lit(v) match {
          case Some(x) =>
            if (x == Long.MaxValue) { lo = 1; hi = 0 } // empty
            else lo = math.max(lo, x + 1)
          case None => return None
        }
        case GreaterThanOrEqual(_, v) => lit(v) match {
          case Some(x) => lo = math.max(lo, x)
          case None => return None
        }
        case LessThan(_, v) => lit(v) match {
          case Some(x) =>
            if (x == Long.MinValue) { lo = 1; hi = 0 } // empty
            else hi = math.min(hi, x - 1)
          case None => return None
        }
        case LessThanOrEqual(_, v) => lit(v) match {
          case Some(x) => hi = math.min(hi, x)
          case None => return None
        }
        case _ => return None
      }
      Some(LongInterval(c, lo, hi))
    } else {
      var lo = Double.NegativeInfinity
      var loInc = true
      var hi = Double.NaN // Spark's maximum
      var hiInc = true
      def tightenLo(x: Double, inc: Boolean): Unit = {
        val cv = cmpD(x, lo)
        if (cv > 0 || (cv == 0 && !inc)) { lo = x; loInc = inc }
      }
      def tightenHi(x: Double, inc: Boolean): Unit = {
        val cv = cmpD(x, hi)
        if (cv < 0 || (cv == 0 && !inc)) { hi = x; hiInc = inc }
      }
      def lit(v: Any): Option[Double] = v match {
        case null | _: String => None
        case b: java.lang.Byte => Some(b.toDouble)
        case s: java.lang.Short => Some(s.toDouble)
        case i: java.lang.Integer => Some(i.toDouble)
        case l: java.lang.Long => Some(l.toDouble)
        case f: java.lang.Float => Some(f.toDouble)
        case d: java.lang.Double => Some(d.doubleValue)
        case _ => None
      }
      fs.foreach {
        case IsNotNull(_) => ()
        case EqualTo(_, v) => lit(v) match {
          case Some(x) => tightenLo(x, inc = true); tightenHi(x, inc = true)
          case None => return None
        }
        case GreaterThan(_, v) => lit(v) match {
          case Some(x) => tightenLo(x, inc = false); case None => return None
        }
        case GreaterThanOrEqual(_, v) => lit(v) match {
          case Some(x) => tightenLo(x, inc = true); case None => return None
        }
        case LessThan(_, v) => lit(v) match {
          case Some(x) => tightenHi(x, inc = false); case None => return None
        }
        case LessThanOrEqual(_, v) => lit(v) match {
          case Some(x) => tightenHi(x, inc = true); case None => return None
        }
        case _ => return None
      }
      Some(DoubleInterval(c, lo, loInc, hi, hiInc))
    }
  }

  /** Double-interval membership under Spark's double ordering; static
    * and allocation-free for primitive per-row loops. */
  def inDouble(v: Double, lo: Double, loInc: Boolean,
      hi: Double, hiInc: Boolean): Boolean = {
    val cl = cmpD(v, lo)
    if (cl < 0 || (cl == 0 && !loInc)) return false
    val ch = cmpD(v, hi)
    ch < 0 || (ch == 0 && hiInc)
  }

  /** Comparison leaf: `dir` is the required sign of cmp(cell, value)
    * (+1 greater, -1 less, 0 equal), `eq` whether 0 also passes. */
  private def cmpLeaf(c: String, v: Any, slotOf: String => Option[Int],
      typeOf: String => Option[DataType], dir: Int, eq: Boolean): Option[Pred] =
    (slotOf(c), typeOf(c)) match {
      case (Some(slot), Some(StringType)) if v.isInstanceOf[String] =>
        val want = UTF8String.fromString(v.asInstanceOf[String])
        Some(g => {
          val a = g(slot)
          if (a == null) false
          else {
            val cv = a.asInstanceOf[UTF8String].compareTo(want)
            if (cv == 0) eq || dir == 0 else Integer.signum(cv) == dir
          }
        })
      case (Some(slot), Some(dt)) if longSpace(dt) =>
        // exact 64-bit compare: LongType cells above 2^53 and temporal
        // internal values never round through double
        lit2long(dt, v).map { want => (g: Int => Any) => {
          val a = g(slot)
          if (a == null) false
          else {
            val cv = java.lang.Long.compare(numL(a), want)
            if (cv == 0) eq || dir == 0 else Integer.signum(cv) == dir
          }
        }}
      case (Some(slot), Some(dt))
          if supportedType(dt) && dt != StringType && !v.isInstanceOf[String] =>
        val want = num(v)
        Some(g => {
          val a = g(slot)
          if (a == null) false
          else {
            val cv = cmpD(num(a), want)
            if (cv == 0) eq || dir == 0 else Integer.signum(cv) == dir
          }
        })
      case _ => None
    }
}
