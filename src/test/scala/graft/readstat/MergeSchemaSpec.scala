package graft.readstat

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** mergeSchema option: union-by-name reads over stat files with
  * differing schemas — missing columns null-fill, integer widths widen,
  * int/double widens to double, and the formats can even be mixed
  * (.dta + .sav in one load). Without the option, schema drift is a
  * descriptive error, never silent nulls. */
class MergeSchemaSpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_merge").toFile
    d.deleteOnExit()
    import spark.implicits._
    // a.dta: (id long, x double, shared int-ish)  b.dta: (id, y string, shared double)
    Seq((1L, 1.5, 10), (2L, 2.5, 20)).toDF("id", "x", "shared")
      .write.format("readstat").mode("overwrite").save(s"$d/a.dta")
    Seq((3L, "hey", 30.5), (4L, "ho", 40.5)).toDF("id", "y", "shared")
      .write.format("readstat").mode("overwrite").save(s"$d/b.dta")
    Seq((5L, 5.5, "E")).toDF("id", "x", "z")
      .write.format("readstat").mode("overwrite").save(s"$d/c.sav")
    d.getAbsolutePath
  }

  test("union-by-name with null fill across dta files") {
    val df = spark.read.format("readstat").option("mergeSchema", "true")
      .load(s"$dir/a.dta", s"$dir/b.dta")
    assert(df.columns.toSeq == Seq("id", "x", "shared", "y"))
    // shared: int-ish in a, double in b -> double
    assert(df.schema("shared").dataType == DoubleType)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows(0).getDouble(1) == 1.5 && rows(0).isNullAt(3))
    assert(rows(2).isNullAt(1) && rows(2).getString(3) == "hey")
    assert(rows.map(_.getDouble(2)).toSeq == Seq(10.0, 20.0, 30.5, 40.5))
  }

  test("mixed formats merge: dta + sav in one load") {
    val df = spark.read.format("readstat").option("mergeSchema", "true")
      .load(s"$dir/a.dta", s"$dir/c.sav")
    assert(df.columns.toSeq == Seq("id", "x", "shared", "z"))
    // id: integral in .dta, double in .sav (sav numerics are doubles) ->
    // widened to double across the merge
    assert(df.schema("id").dataType == DoubleType)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(2).getDouble(0) == 5.0 && rows(2).getDouble(1) == 5.5 &&
      rows(2).isNullAt(2) && rows(2).getString(3) == "E")
  }

  test("projection of a column absent from one file null-fills only there") {
    val df = spark.read.format("readstat").option("mergeSchema", "true")
      .load(s"$dir/a.dta", s"$dir/b.dta")
      .select("y") // a.dta has NO requested column -> all-null pacer path
    val ys = df.collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(ys.count(_ == null) == 2 && ys.filter(_ != null).toSet == Set("hey", "ho"))
  }

  test("aggregate over merged load is correct") {
    val df = spark.read.format("readstat").option("mergeSchema", "true")
      .load(s"$dir/a.dta", s"$dir/b.dta", s"$dir/c.sav")
    val agg = df.agg(count(lit(1)), sum("shared"), count(col("x"))).collect()(0)
    assert(agg.getLong(0) == 5L)
    assert(math.abs(agg.getDouble(1) - (10 + 20 + 30.5 + 40.5)) < 1e-9)
    assert(agg.getLong(2) == 3L) // x present in a.dta (2 rows) + c.sav (1 row)
  }

  test("mergeSchema unions names case-insensitively across dta, xpt and por") {
    import spark.implicits._
    // the xpt and por writers upper-case names: ID / V in those files
    val d = Files.createTempDirectory("graft_merge_case").toFile
    d.deleteOnExit()
    val frame = (1 to 40).map(i => (i, i * 0.5)).toDF("id", "v")
    val paths = Seq("dta", "xpt", "por").map { ext =>
      val p = s"$d/f.$ext"
      frame.write.format("readstat").mode("overwrite").save(p)
      p
    }
    val df = spark.read.format("readstat").option("mergeSchema", "true")
      .load(paths: _*)
    assert(df.columns.toSeq == Seq("id", "v"), df.columns.mkString(","))
    val ids = df.select("id")
    assert(ids.count() == 120L)
    assert(ids.agg(sum("id")).collect()(0).getDouble(0) == 3 * (1 to 40).sum)
    assert(df.agg(sum("v")).collect()(0).getDouble(0) == 3 * (1 to 40).map(_ * 0.5).sum)
  }

  test("schema drift without mergeSchema is a descriptive error") {
    val df = spark.read.format("readstat")
      .load(s"$dir/a.dta", s"$dir/b.dta") // schema = a.dta's: id, x, shared
    val e = intercept[Exception] {
      df.select("x").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("mergeSchema")),
      s"expected a mergeSchema hint in: ${msgs(e).mkString(" | ")}")
  }
}
