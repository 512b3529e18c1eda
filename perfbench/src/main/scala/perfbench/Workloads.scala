package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, LessThan}
import org.apache.spark.sql.types.{DoubleType, StructType}

import graft.api.Readstat
import graft.spark.readstat.{Formats, ReadstatOptions}

/** What an op hands to the layer probes of a traced run. */
final case class ProbeInput(path: String, options: Map[String, String],
    required: Seq[String], pushed: Array[Filter], decode: Boolean)

/** One timed operation. `cls` is read, meta, write or query; `run` makes
  * the program calls and returns whether the output check passed. */
final case class Op(cls: String, name: String, run: Ctx => Boolean,
    probes: Seq[ProbeInput] = Nil)

/** Per-run state an op can reach: the session, the tracer and the
  * per-layer sample store the traced run fills. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val threads: Int) {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def sample(key: String, v: Double): Unit =
    if (tracer.on) samples.getOrElseUpdate(key, mutable.ArrayBuffer()) += v
}

/** A workload: inputs made from the seed, then passes of ops. */
trait Workload {
  /** Writes every input under `dir` (a fresh directory per call). */
  def generate(spark: SparkSession, dir: String): Unit
  /** Ops of one pass over the workload, in the order for `round`. */
  def round(dir: String, round: Int): Seq[Op]
  /** Timed passes for a `--seconds` budget. The count depends only on
    * the budget, never on how fast the machine runs, so every run of a
    * workload measures the same work. */
  def passes(seconds: Double): Int
  /** Stated input size: file count, bytes, rows. */
  def inputSize(dir: String): (Int, Long, Long)
  /** Registry queries a traced run adds after its first passes, if any. */
  def queryProbe: Option[QueryProbe] = None
  /** (format, bytes, rows) of every file the ops have written so far. */
  def writes: collection.Seq[(String, Long, Long)] = Nil
}

object Workloads {
  /** The workload at full size, or at the reduced size of one set-up. */
  def apply(name: String, seed: Long, setup: Boolean = false): Workload = name match {
    case "scan_large" => new ScanLarge(seed, if (setup) ScanLarge.SetupScale else 1.0)
    case "ingest_small" => new IngestSmall(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The common op shape: resolve the schema, plan, then execute. */
  def exec(c: Ctx, paths: Seq[String], options: Map[String, String])(frame: => DataFrame): Array[Row] = {
    val df = c.tracer.span("connector.schema") {
      val ro = ReadstatOptions.from(options.asJava)
      paths.flatMap(p => Main.listFiles(new File(p))).foreach(f => Formats.effectiveSchema(f.getPath, ro))
      frame
    }
    c.tracer.span("connector.plan")(df.queryExecution.executedPlan)
    c.tracer.span("spark.execute")(df.collect())
  }

  def scan(c: Ctx, paths: Seq[String], options: Map[String, String] = Map.empty): DataFrame =
    if (paths.size == 1) Readstat.scan(c.spark, paths.head, options)
    else Readstat.scanAll(c.spark, paths, options)

  /** Exact match of one result row against expected numbers. */
  def matches(r: Row, expected: Seq[Double]): Boolean = {
    val ok = r.length == expected.length && expected.indices.forall { i =>
      !r.isNullAt(i) && {
        val v = r.get(i) match { case n: java.lang.Number => n.doubleValue; case _ => Double.NaN }
        math.abs(v - expected(i)) <= 1e-9 * math.max(1.0, math.abs(expected(i)))
      }
    }
    if (!ok) Main.log(s"check failed: got $r, expected ${expected.mkString("[", ",", "]")}")
    ok
  }

  def dsum(c: String): Column = sum(col(c).cast(DoubleType))

  def sizeOf(dir: File): (Int, Long) = {
    val files = Main.listFiles(dir)
    (files.length, files.map(_.length()).sum)
  }

  def seededOrder[T](xs: Seq[T], seed: Long, round: Int): Seq[T] =
    xs.zipWithIndex.sortBy { case (_, i) => Gen.mix(Gen.mix(seed * 1000003L + round) + i) }.map(_._1)
}

import Workloads._

/** Large seeded files, one per format, read in the regimes users mix:
  * full reads, projections, pushed filters, label and informative-null
  * enrichment, mergeSchema, a deep OFFSET and compress. The connector
  * dominates; planning caches stay warm. `scale` multiplies every row
  * count: 1 for the timed inputs, `SetupScale` for a set-up. */
final class ScanLarge(seed: Long, scale: Double) extends Workload {
  val narrowRows: Map[String, Long] = ScanLarge.NarrowRows.map { case (f, n) => f -> (n * scale).toLong }
  val wide = Gen.Wide(seed + 1, (ScanLarge.WideRows * scale).toLong, 100)
  val narrow: Map[String, Gen.Narrow] = narrowRows.map { case (f, n) => f -> Gen.Narrow(seed, n) }
  def path(dir: String, fmt: String): String =
    if (fmt == "sas7bdat") s"$dir/wide.sas7bdat" else s"$dir/data.$fmt"
  val formats: Seq[String] = Seq("dta", "sav", "zsav", "sas7bdat", "por", "xpt")

  def passes(seconds: Double): Int = math.max(3, math.round(seconds / ScanLarge.PassS).toInt)

  def generate(spark: SparkSession, dir: String): Unit = {
    narrow.foreach { case (fmt, g) =>
      val opts = if (fmt == "xpt") Map.empty[String, String] else Map("valueLabels" -> g.labelSpec)
      Readstat.write(g.frame(spark, 4), path(dir, fmt), opts)
    }
    Readstat.write(wide.frame(spark, 4), path(dir, "sas7bdat"))
  }

  def inputSize(dir: String): (Int, Long, Long) = {
    val (n, b) = sizeOf(new File(dir))
    (n, b, narrowRows.values.sum + wide.rows)
  }

  // Expected aggregates, computed from the generator when the ops are
  // built, so no op's latency includes them.
  private lazy val narrowFull: Map[String, Seq[Double]] = narrow.map { case (f, g) =>
    var sk, sl, cx1, sumGrp = 0.0
    val sx = new Array[Double](7)
    var i = 0L
    while (i < g.rows) {
      sk += g.k(i); sl += g.s1(i).length; sumGrp += i % 50
      (1 to 6).foreach(c => g.x(c, i).foreach { v => sx(c) += v; if (c == 1) cx1 += 1 })
      i += 1
    }
    val n = g.rows.toDouble
    f -> (Seq(n, n * (n - 1) / 2, sumGrp, sk) ++ (1 to 6).map(sx(_)) ++ Seq(cx1, sl))
  }
  private def narrowAgg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), Seq(dsum("id"), dsum("grp"), dsum("k")) ++ (1 to 6).map(c => dsum(s"x$c")) ++
      Seq(count(col("x1")), sum(length(col("s1")))): _*)
  /** Every column of the wide table in one aggregate: the sum over rows
    * of sum_c c * w_c, so a misplaced column changes the result too. */
  private def wideAgg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), dsum("id"),
      sum(wide.names.zipWithIndex.map { case (n, c) => col(n) * (c + 1) }.reduce(_ + _)))
  private lazy val wideFull: Seq[Double] = {
    var s = 0.0
    var i = 0L
    while (i < wide.rows) { (1 to wide.cols).foreach(c => s += c.toDouble * wide.w(c, i)); i += 1 }
    val n = wide.rows.toDouble
    Seq(n, n * (n - 1) / 2, s)
  }
  private def tailSum(n: Long, from: Long): Seq[Double] =
    Seq((n - from).toDouble, ((from + n - 1).toDouble * (n - from)) / 2)
  private def filterExpect(g: Gen.Narrow): Seq[Double] = {
    var n, s = 0.0
    var i = 0L
    while (i < g.rows) { if (g.k(i) < 20) { n += 1; s += g.x(3, i).get }; i += 1 }
    Seq(n, s)
  }

  private def fullRead(dir: String, fmt: String, name: String,
      options: Map[String, String] = Map.empty): Op = {
    val p = path(dir, fmt)
    if (fmt == "sas7bdat") {
      val exp = wideFull
      Op("read", name, c => matches(exec(c, Seq(p), options)(wideAgg(scan(c, Seq(p), options))).head, exp),
        Seq(ProbeInput(p, options, "id" +: wide.names, Array.empty, decode = true)))
    } else {
      val exp = narrowFull(fmt)
      Op("read", name, c => matches(exec(c, Seq(p), options)(narrowAgg(scan(c, Seq(p), options))).head, exp),
        Seq(ProbeInput(p, options, narrow(fmt).schema.fieldNames.toSeq, Array.empty, decode = true)))
    }
  }

  private def ops(dir: String): Seq[Op] = {
    val full = formats.map(f => fullRead(dir, f, s"full.$f"))
    val proj = Seq("xpt").map { f =>
      val p = path(dir, f)
      val g = narrow(f)
      val exp = {
        var sk, sx = 0.0
        var i = 0L
        while (i < g.rows) { sk += g.k(i); sx += g.x(2, i).get; i += 1 }
        Seq(sk, sx)
      }
      Op("read", s"project.$f", c => matches(exec(c, Seq(p), Map.empty) {
        scan(c, Seq(p)).select("k", "x2").agg(dsum("k"), dsum("x2"))
      }.head, exp), Seq(ProbeInput(p, Map.empty, Seq("k", "x2"), Array.empty, decode = true)))
    }
    val filt = Seq("sav", "zsav").map { f =>
      val p = path(dir, f)
      val exp = filterExpect(narrow(f))
      Op("read", s"filter.$f", c => matches(exec(c, Seq(p), Map.empty) {
        scan(c, Seq(p)).where(col("k") < 20).select("x3").agg(count(lit(1)), dsum("x3"))
      }.head, exp), Seq(ProbeInput(p, Map.empty, Seq("k", "x3"), Array(LessThan("k", 20.0)), decode = true)))
    } :+ {
      val p = path(dir, "sas7bdat")
      val exp = {
        var n, s = 0.0
        var i = 0L
        while (i < wide.rows) { if (wide.w(1, i) < 20) { n += 1; s += wide.w(2, i) }; i += 1 }
        Seq(n, s)
      }
      Op("read", "filter.sas7bdat", c => matches(exec(c, Seq(p), Map.empty) {
        scan(c, Seq(p)).where(col("w001") < 20).select("w002").agg(count(lit(1)), dsum("w002"))
      }.head, exp), Seq(ProbeInput(p, Map.empty, Seq("w001", "w002"), Array(LessThan("w001", 20.0)), decode = true)))
    }
    val labels = Seq("dta", "por").map { f =>
      val p = path(dir, f)
      val g = narrow(f)
      val o = Map("valueLabelsAsStrings" -> "true")
      // label "g<code>" has 2 characters for codes 0-9 and 3 for 10-49
      var len, n7 = 0.0
      var i = 0L
      while (i < g.rows) { len += (if (i % 50 < 10) 2 else 3); if (i % 50 == 7) n7 += 1; i += 1 }
      val exp = Seq(len, n7)
      Op("read", s"labels.$f", c => matches(exec(c, Seq(p), o) {
        scan(c, Seq(p), o).select(length(col("grp")).as("len"), (col("grp") === "g7").cast("int").as("is7"))
          .agg(sum("len"), sum("is7"))
      }.head, exp), Seq(ProbeInput(p, o, Seq("grp"), Array.empty, decode = true)))
    }
    val infoNull = {
      val p = path(dir, "sav")
      val o = Map("informativeNulls" -> "true", "informativeNullMode" -> "struct")
      val e = narrowFull("sav")
      Op("read", "infonull.sav", c => matches(exec(c, Seq(p), o) {
        val df = scan(c, Seq(p), o)
        val x1 = df.schema("x1").dataType match {
          case _: StructType => col("x1.x1")
          case _ => col("x1")
        }
        df.agg(count(x1), sum(x1.cast(DoubleType)))
      }.head, Seq(e(10), e(4))), Seq(ProbeInput(p, o, Seq("x1"), Array.empty, decode = true)))
    }
    val merge = {
      val ps = Seq(path(dir, "dta"), path(dir, "sav"))
      val o = Map("mergeSchema" -> "true")
      val (a, b) = (narrowFull("dta"), narrowFull("sav"))
      Op("read", "merge.dta+sav", c => matches(exec(c, ps, o) {
        scan(c, ps, o).agg(count(lit(1)), dsum("id"))
      }.head, Seq(a(0) + b(0), a(1) + b(1))),
        ps.map(p => ProbeInput(p, o, Seq("id"), Array.empty, decode = true)))
    }
    val offset = Seq("dta").map { f =>
      val p = path(dir, f)
      val n = narrow(f).rows
      val from = n * 9 / 10
      Op("read", s"offset.$f", c => matches(exec(c, Seq(p), Map.empty) {
        scan(c, Seq(p)).select("id").offset(from.toInt).agg(count(lit(1)), dsum("id"))
      }.head, tailSum(n, from)), Seq(ProbeInput(p, Map.empty, Seq("id"), Array.empty, decode = true)))
    }
    val compress = Seq("dta").map(f =>
      // With the default 1000-row probe, compress narrows the row-id
      // column to a short and the read then fails on row 32768; the probe
      // covers the whole file here, as that error message advises.
      fullRead(dir, f, s"compress.$f",
        Map("compress" -> "true", "compressProbeRows" -> narrowRows(f).toString)))
    // .xpt is left out: its fileMetadata row count includes the blank
    // padding rows at the end of the file (see ScanLarge.MetaFormats)
    val all = ScanLarge.MetaFormats.map(path(dir, _))
    val meta = Seq(
      Op("meta", "filemeta.all", c => {
        // a .por header carries no row count, so its row_count is null
        val r = exec(c, all, Map.empty)(Readstat.fileMetadata(c.spark, all: _*)
          .agg(sum("row_count"), count("row_count"))).head
        val counted = ScanLarge.MetaFormats.filter(_ != "por")
        matches(r, Seq(counted.map(f => if (f == "sas7bdat") wide.rows else narrowRows(f)).sum.toDouble,
          counted.length.toDouble))
      }, all.map(p => ProbeInput(p, Map.empty, Nil, Array.empty, decode = false))),
      Op("meta", "count.dta", c => {
        val p = path(dir, "dta")
        matches(exec(c, Seq(p), Map.empty)(scan(c, Seq(p)).agg(count(lit(1)))).head,
          Seq(narrowRows("dta").toDouble))
      }, Seq(ProbeInput(path(dir, "dta"), Map.empty, Nil, Array.empty, decode = false))))
    full ++ proj ++ filt ++ labels ++ Seq(infoNull, merge) ++ offset ++ compress ++ meta
  }

  private var cached: Option[(String, Seq[Op])] = None
  private def opsFor(dir: String): Seq[Op] = cached match {
    case Some((d, o)) if d == dir => o
    case _ => val o = ops(dir); cached = Some(dir -> o); o
  }
  def round(dir: String, r: Int): Seq[Op] = seededOrder(opsFor(dir), seed, r)
  override val queryProbe: Option[QueryProbe] = Some(new QueryProbe(seed))
}

object ScanLarge {
  /** Rows of each narrow file and of the wide .sas7bdat at full size. */
  val NarrowRows: Map[String, Long] =
    Map("dta" -> 300000L, "sav" -> 300000L, "zsav" -> 210000L, "xpt" -> 240000L, "por" -> 90000L)
  val WideRows = 24000L
  /** Size of a set-up's inputs relative to the timed ones. */
  val SetupScale = 0.03125
  /** Nominal seconds of one timed pass on a 4-core machine. */
  val PassS = 3.0
  /** Files the `fileMetadata` op reads. Not .xpt: `Readstat.fileMetadata`
    * reports `XptMeta.rowCount`, which counts trailing blank padding rows,
    * so its row count is wrong for some row counts. */
  val MetaFormats: Seq[String] = Seq("dta", "sav", "zsav", "sas7bdat", "por")
}

/** Small seeded frames written to all six formats, each followed by a
  * read-back and metadata-bound reads of the growing output directory.
  * Writers, header parsing and planning dominate; every file is new.
  * Over six passes each format writes each of the six frame shapes once,
  * so the work of a run does not depend on the seed. */
final class IngestSmall(seed: Long) extends Workload {
  val formats: Seq[String] = Seq("dta", "sav", "zsav", "sas7bdat", "por", "xpt")
  val rows = 2000
  private var opCounter = 0
  private val writtenRows = mutable.Map[String, Long]().withDefaultValue(0L)
  private val latest = mutable.LinkedHashMap[String, (String, Gen.Small)]()
  override val writes = mutable.ArrayBuffer[(String, Long, Long)]()

  /** Whole multiples of six passes, about 2 s each on a 4-core machine. */
  def passes(seconds: Double): Int = 6 * math.max(1, math.round(seconds / 12).toInt)

  def generate(spark: SparkSession, dir: String): Unit = new File(dir).mkdirs()

  def inputSize(dir: String): (Int, Long, Long) = {
    val (n, b) = sizeOf(new File(dir))
    (n, b, writtenRows.values.sum)
  }

  private def writeOps(dir: String, fmt: String, shape: Int): Seq[Op] = {
    val id = opCounter
    opCounter += 1
    val g = Gen.Small(seed, id, rows, shape)
    val fdir = s"$dir/out/$fmt"
    val p = s"$fdir/f$id.$fmt"
    val (n, sid, sn, sl) = g.checksum
    def fileMeta = ProbeInput(p, Map.empty, Nil, Array.empty, decode = false)
    Seq(
      Op("write", s"write.$fmt", c => {
        val df = g.frame(c.spark)
        c.tracer.span(s"writers.write.$fmt")(Readstat.write(df, p, g.options(fmt)))
        val f = new File(p)
        val ok = f.isFile && f.length() > 0
        if (ok) {
          writtenRows(fdir) += rows
          latest(fmt) = (p, g)
          writes += ((fmt, f.length(), rows.toLong))
        }
        ok
      }, Seq(fileMeta)),
      Op("read", s"readback.$fmt", c => matches(exec(c, Seq(p), Map.empty) {
        scan(c, Seq(p)).agg(count(lit(1)), dsum("id"),
          g.numNames.map(dsum).reduce(_ + _), g.strNames.map(s => sum(length(col(s)))).reduce(_ + _))
      }.head, Seq(n.toDouble, sid, sn, sl.toDouble)),
        Seq(ProbeInput(p, Map.empty, "id" +: (g.numNames ++ g.strNames), Array.empty, decode = true))),
      Op("meta", s"count.$fmt", c => {
        val expected = writtenRows(fdir).toDouble
        matches(exec(c, Seq(fdir), Map.empty)(scan(c, Seq(fdir)).agg(count(lit(1)))).head, Seq(expected))
      }, Seq(fileMeta)),
      // a .por header carries no row count, so its row_count is null
      Op("meta", s"filemeta.$fmt", c =>
        matches(exec(c, Seq(p), Map.empty)(Readstat.fileMetadata(c.spark, p)
          .select(coalesce(col("row_count"), lit(-1L)))).head,
          Seq(if (fmt == "por") -1.0 else rows.toDouble)), Seq(fileMeta)),
      Op("meta", s"varmeta.$fmt", c =>
        matches(exec(c, Seq(p), Map.empty)(Readstat.metadata(c.spark, p).agg(count(lit(1)))).head,
          Seq(g.schema.length.toDouble)), Seq(fileMeta))
    // no fileMetadata op for .xpt: its row count includes the blank
    // padding rows at the end of the file, so it is wrong for some shapes
    ).filterNot(op => op.name == "filemeta.xpt")
  }

  private def mergeOp(): Op = Op("read", "merge.filter", c => {
    val files = latest.filter { case (f, _) => IngestSmall.MergeFormats(f) }.values.toSeq
    val ps = files.map(_._1)
    val o = Map("mergeSchema" -> "true")
    val exp = files.map { case (_, g) =>
      val keep = (0 until g.rows).filter(i => g.num(1, i.toLong) < 2)
      (keep.size.toDouble, keep.map(_.toDouble).sum)
    }
    matches(exec(c, ps, o) {
      scan(c, ps, o).where(col("n1") < 2).select("id").agg(count(lit(1)), dsum("id"))
    }.head, Seq(exp.map(_._1).sum, exp.map(_._2).sum))
  })

  /** The frame shape format `i` writes in round `r`. */
  def shapeOf(i: Int, r: Int): Int = Math.floorMod(i + r, Gen.Small.Shapes.length)

  /** The ops of a round are built when it starts: each write takes the
    * next op id, so every file written in a run is new. */
  def round(dir: String, r: Int): Seq[Op] =
    seededOrder(formats.indices, seed, r).flatMap(i => writeOps(dir, formats(i), shapeOf(i, r))) :+ mergeOp()
}

object IngestSmall {
  /** Formats the `mergeSchema` op reads. Not .xpt or .por: their writers
    * upper-case column names, `Formats.mergedSchema` unions names
    * case-sensitively, and the load then fails with AMBIGUOUS_REFERENCE. */
  val MergeFormats: Set[String] = Set("dta", "sav", "zsav", "sas7bdat")
}

/** Registry pipeline queries on seeded documents, lineitem and events
  * tables, run as a layer probe of a traced run: query operators and the
  * shuffle dominate, and there is no readstat decode. They are not a
  * workload of their own because a query is a dozen small Spark jobs, and
  * on a shared machine their run-to-run spread (0.30 of the median for
  * the pass time over ten seeds) exceeds any bound a regression gate
  * could use. */
final class QueryProbe(seed: Long) {
  val names: Seq[String] = QueryProbe.Names
  val gen = Gen.Pipeline(seed, docs = 800, orders = 8000, events = 10000)
  /** Canonical result digest of each execution, keyed by query. */
  val digests = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()
  private val results = mutable.Map[String, (Array[Row], StructType)]()
  /** The first execution's result, which the oracle comparison checks. */
  def firstResult(q: String): (Array[Row], StructType) = results(q)

  private def op(dir: String, name: String): Op = Op("query", name, c => {
    val df = c.tracer.span("queries.build")(graft.SparkEntry.queries(name)(c.spark, dir))
    c.tracer.span("spark.plan")(df.queryExecution.executedPlan)
    val rows = c.tracer.span("spark.execute")(df.collect())
    digests.getOrElseUpdate(name, mutable.ArrayBuffer()) += QueryProbe.digest(rows)
    if (!results.contains(name)) results(name) = (rows, df.schema)
    rows.nonEmpty
  })

  def round(dir: String, r: Int): Seq[Op] = seededOrder(names, seed, r).map(op(dir, _))
}

object QueryProbe {
  val Names: Seq[String] = Seq("dedup_winnow_pairs", "dedup_clusters", "graph_triangles")

  /** Order-insensitive digest of a result: rows rendered, sorted, hashed. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
