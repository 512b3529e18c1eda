package graft.readstat

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Columnar coverage: POR batch decode, dictionary-encoded label decode
  * and column-mode informative-null indicators on all five formats
  * (r12), plus compress / schemaOverrides narrowing through the
  * connector's vector-cast wrapper (r13 — the last row-only regimes).
  * Each case pins BOTH properties: the plan actually runs
  * ColumnarToRow, and the values match the retired row decoder's output
  * on the same input, frozen as parquet goldens under
  * `golden/rowpath` (inputs in `golden/rowpath/inputs`).
  */
class ColumnarParitySpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_colpar").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("por scan runs the columnar path with row-path parity") {
    val p = rowPathInput("plain.por")
    assertColumnarGolden(spark.read.format("readstat").load(p),
      "plain.por.plain", "por plain")
    // projection skim + row index stay correct through the batch path
    val withIdx = spark.read.format("readstat")
      .option("rowIndexName", "_ri").load(p).select("frac", "_ri")
    assert(withIdx.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val got = withIdx.orderBy("_ri").collect()
    assert(got.length == 4000)
    assert(got(0).getDouble(0) == 0.25 && got(0).getLong(1) == 0L)
    assert(got(3999).getLong(1) == 3999L)
  }

  test("por parallel checkpoint partitions serve columnar batches") {
    import spark.implicits._
    val p = s"$dir/par.por"
    (1 to 60000).map(i => (i.toDouble, s"v${i % 50}", i * 0.5))
      .toDF("a", "s", "b")
      .write.format("readstat").mode("overwrite").save(p)
    val par = spark.read.format("readstat")
      .option("partitionTargetBytes", "65536").load(p)
    assert(par.rdd.getNumPartitions > 1, "expected a parallel por scan")
    assert(par.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val serial = spark.read.format("readstat").load(p)
    assert(par.agg(sum("a"), sum("b"), count("s")).collect()(0) ==
      serial.agg(sum("a"), sum("b"), count("s")).collect()(0))
    assert(par.count() == 60000)
  }

  test("labeled dta scan decodes through the columnar path") {
    // codes beyond the label table exercise the code-form fallback;
    // nulls exercise missing handling inside the labeled loop
    val p = rowPathInput("lab.dta")
    def labeled = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(p)
    assertColumnarGolden(labeled, "lab.dta.plain", "dta labeled")
    val vals = labeled.select("code").distinct().collect().map(_.getString(0)).toSet
    assert(vals == Set(null, "One", "Two", "Three", "0", "4", "5", "6"))
  }

  test("labeled sav scan decodes through the columnar path") {
    val p = rowPathInput("lab.sav")
    def labeled = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(p)
    assertColumnarGolden(labeled, "lab.sav.plain", "sav labeled")
    val sexes = labeled.select("sex").distinct().collect().map(_.getString(0)).toSet
    assert(sexes == Set(null, "Male", "Female", "0", "3", "4"))
    val tags = labeled.select("tag").distinct().collect().map(_.getString(0)).toSet
    assert(tags == Set("Alpha", "zz"))
  }

  test("labeled por scan decodes through the columnar path") {
    val p = rowPathInput("lab.por")
    def labeled = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(p)
    assertColumnarGolden(labeled, "lab.por.plain", "por labeled")
    val vals = labeled.select("grade").distinct().collect().map(_.getString(0)).toSet
    assert(vals == Set("0", "Low", "Mid", "High"))
  }

  test("catalog-labeled xpt and sas7bdat scans decode through the columnar path") {
    for (ext <- Seq("xpt", "sas7bdat")) {
      val name = if (ext == "xpt") "lab_xpt.xpt" else "lab_sas.sas7bdat"
      val p = rowPathInput(name)
      val catPath = p.stripSuffix(s".$ext") + ".sas7bcat"
      def labeled = spark.read.format("readstat")
        .option("catalog", catPath)
        .option("valueLabelsAsStrings", "true").load(p)
      assertColumnarGolden(labeled, s"$name.plain", s"$ext catalog-labeled")
      val sexCol = if (ext == "xpt") "SEX" else "sex"
      val tagCol = if (ext == "xpt") "TAG" else "tag"
      val sexes = labeled.select(sexCol).distinct().collect().map(_.getString(0)).toSet
      assert(sexes == Set("0", "Male", "Female", "3"), s"$ext: $sexes")
      val tags = labeled.select(tagCol).distinct().collect().map(_.getString(0)).toSet
      assert(tags == Set("Alpha", "zz"), s"$ext: $tags")
    }
  }

  test("informativeNulls (column mode) runs columnar on dta/sav/xpt/sas7bdat") {
    // dta + xpt + sas7bdat: .a-.z tagged missings driven by an indicator
    // column on write, re-derived on read
    for (ext <- Seq("dta", "xpt", "sas7bdat")) {
      val p = rowPathInput(s"inul.$ext")
      def read = spark.read.format("readstat")
        .option("informativeNulls", "true")
        .option("informativeNullUseValueLabels", "false").load(p)
      assertColumnarGolden(read, s"inul.$ext.plain", s"$ext informativeNulls")
      val vCol = if (ext == "dta") "v_null" else "V_null"
      val ordCol = if (ext == "dta") "ord" else "ORD"
      val inds = read.orderBy(ordCol).select(vCol).collect()
        .map(r => Option(r.getString(0)).orNull)
      // xpt/sas tags are upper-case .A-.Z, dta lower
      val (a, z) = if (ext == "dta") (".a", ".z") else (".A", ".Z")
      assert(inds(6) == a && inds(2) == z && inds(0) == null,
        s"$ext: ${inds.take(8).mkString(",")}")
    }
    // sav: declared discrete user-missings + a string missing value
    def savRead = spark.read.format("readstat")
      .option("informativeNulls", "true").load(rowPathInput("inul.sav"))
    assertColumnarGolden(savRead, "inul.sav.plain", "sav informativeNulls")
    val qInds = savRead.select("q_null").distinct().collect()
      .map(r => Option(r.getString(0)).orNull).toSet
    assert(qInds == Set(null, "Refused"), qInds.toString) // label beats code
    val sInds = savRead.select("s_null").distinct().collect()
      .map(r => Option(r.getString(0)).orNull).toSet
    assert(sInds == Set(null, "NA"), sInds.toString)

    // por: sav-semantics indicators through the por columnar path, with
    // a pushed filter layered on top (prefix-buffered indicator flush)
    def porRead = spark.read.format("readstat")
      .option("informativeNulls", "true").load(rowPathInput("inul.por"))
    assertColumnarGolden(porRead, "inul.por.plain", "por informativeNulls")
    val pInds = porRead.select("Q_null").distinct().collect()
      .map(r => Option(r.getString(0)).orNull).toSet
    assert(pInds == Set(null, "Refused"), pInds.toString)
    val filtered = porRead.filter(col("ORD") > 1500.0)
    assert(filtered.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString.contains("PushedFilters:"))
    assert(filtered.filter(col("Q_null").isNotNull).count() ==
      (1501 to 3000).count(_ % 10 == 9))
  }

  test("sav user-missing codes stay null in the labeled columnar path") {
    import spark.implicits._
    val p = s"$dir/miss.sav"
    (1 to 2000).map(i => (Integer.valueOf(i % 10), i.toDouble))
      .toDF("q", "x")
      .write.format("readstat").mode("overwrite")
      .option("valueLabels", "q:1=Yes,2=No,9=Refused")
      .option("missingValues", "q:9").save(p)
    val labeled = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(p)
    assert(labeled.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val vals = labeled.select("q").distinct().collect().map(_.getString(0)).toSet
    // 9 is user-missing → null even though labeled; others label or code
    assert(vals == Set(null, "Yes", "No", "0", "3", "4", "5", "6", "7", "8"))
  }

  test("compress narrowing runs columnar through the vector-cast wrapper (r13)") {
    // int-valued doubles (→ int8/int16), 0/1 (→ boolean), midnight
    // timestamps (→ date), numeric strings (→ double), plus a genuinely
    // fractional column that must stay double
    def compressed = spark.read.format("readstat")
      .option("compress", "true").option("compressProbeRows", "6000")
      .load(rowPathInput("cmp.dta"))
    assertColumnarGolden(compressed, "cmp.dta.plain", "dta compress")
    val sch = compressed.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    assert(sch("flag") == "BOOLEAN" && sch("small") == "TINYINT" &&
      sch("wide") == "SMALLINT" && sch("frac") == "DOUBLE" &&
      sch("numstr") == "DOUBLE" && sch("ts") == "DATE", sch.toString)
    // aggregates over the cast vectors agree with raw values
    assert(compressed.agg(sum(col("small").cast("long"))).collect()(0).getLong(0) ==
      (1 to 6000).map(_ % 100).sum.toLong)
  }

  test("schemaOverrides run columnar through the vector-cast wrapper (r13)") {
    val p = rowPathInput("ovr.sav")
    def overridden = spark.read.format("readstat")
      .option("schemaOverrides", "a TINYINT, s DOUBLE").load(p)
    assertColumnarGolden(overridden, "ovr.sav.plain", "sav overrides")
    val sch = overridden.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    assert(sch("a") == "TINYINT" && sch("b") == "DOUBLE" && sch("s") == "DOUBLE")
    // untouched column passes through by reference; strict downcast
    // overflow still throws (same castValue as the row path)
    val bad = spark.read.format("readstat")
      .option("schemaOverrides", "b TINYINT").load(p)
    val e = intercept[org.apache.spark.SparkException] { bad.collect() }
    assert(String.valueOf(e.getMessage).contains("does not fit") ||
      Option(e.getCause).exists(c =>
        String.valueOf(c.getMessage).contains("does not fit")), e.getMessage)
  }
}
