package graft.readstat

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  def res(p: String): String = {
    val url = getClass.getClassLoader.getResource(p)
    require(url != null, s"missing test resource $p")
    url.getPath
  }

  /** A generated input frozen beside the row-path goldens. */
  def rowPathInput(name: String): String = res(s"golden/rowpath/inputs/$name")

  /** The retired row decoder's output for one (input, regime) case,
    * frozen as parquet (generator: tools/rowpath_goldens). */
  def rowPathGolden(name: String): DataFrame =
    spark.read.parquet(res(s"golden/rowpath/$name.parquet"))

  /** The read runs the columnar scan and equals its row-path golden. */
  def assertColumnarGolden(read: DataFrame, golden: String, ctx: String): Unit = {
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"$ctx not columnar:\n$plan")
    assertSameData(read, rowPathGolden(golden), ctx)
  }

  /** Normalize a frame for cross-engine value comparison: strings stay
    * strings (null→""), temporals → epoch seconds as double, numerics →
    * double with null→NaN. Mirrors the reference's dtype-normalized
    * compare (tests/test_write_roundtrip.py:30-47).
    */
  def normalize(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case StringType => coalesce(c, lit("")).as(f.name)
        case DateType =>
          coalesce(unix_date(c).cast(DoubleType) * 86400d, lit(Double.NaN)).as(f.name)
        case TimestampType | TimestampNTZType =>
          // NTZ→LTZ is identity under the UTC session timezone
          coalesce(c.cast(TimestampType).cast(DoubleType), lit(Double.NaN)).as(f.name)
        case BooleanType =>
          coalesce(c.cast(DoubleType), lit(Double.NaN)).as(f.name)
        case _: NumericType =>
          coalesce(c.cast(DoubleType), lit(Double.NaN)).as(f.name)
        case _ => c
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Row-by-row equality after normalization (row order preserved). */
  def assertSameData(got: DataFrame, want: DataFrame, ctx: String): Unit = {
    val gotCols = got.columns.toSeq
    assert(gotCols == want.columns.toSeq, s"$ctx: columns differ")
    val g = normalize(got).collect()
    val w = normalize(want).collect()
    assert(g.length == w.length, s"$ctx: row count ${g.length} vs ${w.length}")
    g.zip(w).zipWithIndex.foreach { case ((gr, wr), ri) =>
      gotCols.indices.foreach { ci =>
        val a = gr.get(ci); val b = wr.get(ci)
        val ok = (a, b) match {
          case (x: Double, y: Double) =>
            (x.isNaN && y.isNaN) || x == y ||
              math.abs(x - y) <= math.max(math.abs(x), math.abs(y)) * 1e-12
          case _ => a == b
        }
        assert(ok, s"$ctx: row $ri col ${gotCols(ci)}: got $a want $b")
      }
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
