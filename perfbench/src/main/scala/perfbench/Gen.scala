package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, column, row), so the same seed yields the same frames however
  * Spark partitions the work, and the expected aggregates the output
  * checks compare against are computed from the same functions without
  * reading any file back. */
object Gen {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform draw in [0, n) for (seed, column, row). */
  def u(seed: Long, col: Int, row: Long, n: Int): Int =
    ((mix(mix(seed * 31L + col) ^ row) >>> 1) % n).toInt

  val Words: Array[String] = Array("key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "the", "a", "line", "sort", "window", "order", "data", "column",
    "join", "small", "big", "query", "customer", "stream", "group",
    "filter", "vector", "label", "stata", "spss", "sas", "file", "page")

  // ---- scan_large: one narrow table shape, one wide SAS shape ----------

  /** Narrow stat table: `id` = row, `grp` = row % 50 (value-labelled),
    * `k` uniform in [0, 1000) (the ~2% filter is `k < 20`), `x1..x6`
    * integer-valued doubles (x1 is null on ~10% of rows), `s1` a short
    * word tag. Integer-valued doubles keep every sum exact in any format. */
  final case class Narrow(seed: Long, rows: Long) {
    val numCols: Seq[String] = Seq("x1", "x2", "x3", "x4", "x5", "x6")
    val schema: StructType = StructType(
      Seq(StructField("id", DoubleType), StructField("grp", IntegerType),
        StructField("k", DoubleType)) ++
        numCols.map(StructField(_, DoubleType)) :+ StructField("s1", StringType))
    def k(i: Long): Int = u(seed, 1, i, 1000)
    def x(c: Int, i: Long): Option[Double] =
      if (c == 1 && u(seed, 9, i, 10) == 0) None
      else Some(u(seed, 10 + c, i, 100000).toDouble)
    def s1(i: Long): String = Words(u(seed, 20, i, Words.length)) + "_" + u(seed, 21, i, 100)
    def row(i: Long): Row = Row.fromSeq(
      Seq[Any](i.toDouble, (i % 50).toInt, k(i).toDouble) ++
        (1 to 6).map(c => x(c, i).map(Double.box).orNull) :+ s1(i))
    def frame(spark: SparkSession, parts: Int): DataFrame = {
      val me = this
      spark.createDataFrame(spark.sparkContext
        .parallelize(0L until rows, parts).map(me.row), schema)
    }
    /** grp value labels, in the writers' `col:code=label,...` form. */
    def labelSpec: String = (0 until 50).map(g => s"$g=g$g").mkString("grp:", ",", "")
  }

  /** Wide numeric SAS table: `id` plus `w001..wNNN` uniform in [0, 1000). */
  final case class Wide(seed: Long, rows: Long, cols: Int) {
    val names: Seq[String] = (1 to cols).map(c => f"w$c%03d")
    val schema: StructType =
      StructType(StructField("id", DoubleType) +: names.map(StructField(_, DoubleType)))
    def w(c: Int, i: Long): Int = u(seed, 100 + c, i, 1000)
    def row(i: Long): Row = Row.fromSeq(i.toDouble +: (1 to cols).map(c => w(c, i).toDouble))
    def frame(spark: SparkSession, parts: Int): DataFrame = {
      val me = this
      spark.createDataFrame(spark.sparkContext
        .parallelize(0L until rows, parts).map(me.row), schema)
    }
  }

  // ---- ingest_small: per-op frames of six fixed shapes ----------------

  /** One small frame to write, of shape `shape` (an index into
    * `Small.Shapes`): numeric column count, string widths and whether
    * value labels are attached. Values are drawn per (seed, op); `id` and
    * `n1` are always present so the read-back checksum has a fixed
    * anchor. */
  final case class Small(seed: Long, op: Int, rows: Int, shape: Int) {
    private val sh = Small.Shapes(shape)
    val nNum: Int = sh.nNum
    val nStr: Int = sh.strWidth.length
    val strWidth: Seq[Int] = sh.strWidth
    val labelled: Boolean = sh.labelled
    val numNames: Seq[String] = (1 to nNum).map(c => s"n$c")
    val strNames: Seq[String] = (1 to nStr).map(c => s"t$c")
    val schema: StructType = StructType(StructField("id", DoubleType) +:
      (numNames.map(StructField(_, DoubleType)) ++ strNames.map(StructField(_, StringType))))
    def num(c: Int, i: Long): Double = u(seed * 7919L + op, c, i, if (c == 1) 5 else 20000).toDouble
    def str(j: Int, i: Long): String = {
      val w = strWidth(j)
      val b = new StringBuilder
      var t = 0
      while (b.length < w) { b.append(Words(u(seed * 7919L + op, 50 + j, i * 64 + t, Words.length))); t += 1 }
      b.substring(0, 1 + u(seed * 7919L + op, 80 + j, i, w))
    }
    def row(i: Long): Row = Row.fromSeq(i.toDouble +:
      ((1 to nNum).map(c => num(c, i)) ++ (0 until nStr).map(j => str(j, i))))
    def frame(spark: SparkSession): DataFrame = {
      val rs = new java.util.ArrayList[Row](rows)
      (0 until rows).foreach(i => rs.add(row(i.toLong)))
      spark.createDataFrame(rs, schema)
    }
    /** Codes 0..4 of `n1` labelled when `labelled`. */
    def options(fmt: String): Map[String, String] =
      if (labelled && fmt != "sas7bdat" && fmt != "xpt")
        Map("valueLabels" -> (0 until 5).map(c => s"$c=L$c").mkString("n1:", ",", ""))
      else Map.empty
    /** Read-back checksum: (rows, sum id, sum n*, sum string lengths). */
    def checksum: (Long, Double, Double, Long) = {
      var sn = 0.0; var sl = 0L
      (0 until rows).foreach { i =>
        (1 to nNum).foreach(c => sn += num(c, i.toLong))
        (0 until nStr).foreach(j => sl += str(j, i.toLong).length)
      }
      (rows.toLong, rows.toLong * (rows - 1) / 2.0, sn, sl)
    }
  }

  object Small {
    final case class Shape(nNum: Int, strWidth: Seq[Int], labelled: Boolean)
    val Shapes: Seq[Shape] = Seq(
      Shape(2, Seq(4), labelled = true),
      Shape(3, Seq(8, 20), labelled = false),
      Shape(4, Seq(12), labelled = true),
      Shape(5, Seq(2, 16, 30), labelled = false),
      Shape(6, Seq(24, 6), labelled = true),
      Shape(7, Seq(10), labelled = false))
  }

  // ---- pipeline: documents, lineitem and events in the test-data shape -

  final case class Pipeline(seed: Long, docs: Int, orders: Int, events: Int) {
    private val langs = Array("en", "en", "en", "zh", "es", "de", "fr")
    private val types = Array("view", "click", "purchase", "signup", "error")
    private val flags = Array("A", "N", "R")
    private def ntz(y: Int, secs: Long): LocalDateTime =
      LocalDateTime.of(y, 1, 1, 0, 0).plusSeconds(secs)

    /** Every fifth document is a near-duplicate: a copy of an earlier one
      * with ~8% of its tokens replaced, so the dedup family finds pairs. */
    def texts: Array[String] = {
      val out = new Array[String](docs)
      (0 until docs).foreach { i =>
        out(i) =
          if (i > 0 && u(seed, 200, i, 5) == 0) {
            val src = out(u(seed, 201, i, i)).split(' ')
            src.indices.map(t =>
              if (u(seed, 202, i * 1000L + t, 12) == 0) Words(u(seed, 203, i * 1000L + t, Words.length))
              else src(t)).mkString(" ")
          } else {
            val len = 10 + u(seed, 204, i, 80)
            (0 until len).map(t => Words(u(seed, 205, i * 1000L + t, Words.length))).mkString(" ")
          }
      }
      out
    }

    def write(spark: SparkSession, dir: String): Unit = {
      val t = texts
      val docRows = (0 until docs).map(i => Row(i.toLong, t(i), langs(u(seed, 210, i, langs.length)),
        s"src${i % 20}", t(i).length.toLong))
      val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
      save(spark, docRows, docSchema, s"$dir/documents.parquet")

      val liRows = (0 until orders).flatMap { o =>
        (1 to 1 + u(seed, 220, o, 7)).map { ln =>
          val key = o * 8L + ln
          Row(o.toLong, u(seed, 221, key, 2000).toLong, u(seed, 222, key, 100).toLong, ln,
            (1 + u(seed, 223, key, 50)).toDouble, u(seed, 224, key, 10000000) / 100.0,
            u(seed, 225, key, 11) / 100.0, u(seed, 226, key, 9) / 100.0,
            flags(u(seed, 227, key, 3)), if (u(seed, 228, key, 2) == 0) "F" else "O",
            ntz(1995, u(seed, 229, key, 2500) * 86400L))
        }
      }
      val liSchema = StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampNTZType)))
      save(spark, liRows, liSchema, s"$dir/lineitem.parquet")

      val evRows = (0 until events).map { e =>
        Row(e.toLong, ntz(2024, e * 26L + u(seed, 230, e, 26)), u(seed, 231, e, 300).toLong,
          types(u(seed, 232, e, types.length)), u(seed, 233, e, 2000) / 100.0,
          s"""{"k": ${u(seed, 234, e, 100)}}""")
      }
      val evSchema = StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampNTZType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType)))
      save(spark, evRows, evSchema, s"$dir/events.parquet")
    }

    private def save(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit = {
      val l = new java.util.ArrayList[Row](rows.size)
      rows.foreach(l.add)
      spark.createDataFrame(l, schema).coalesce(1).write.mode("overwrite").parquet(path)
    }
  }
}
