package graft.readstat

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** XPT (IBM hex floats) and POR (base-30) readers/writers. */
class XptPorSpec extends SparkTestBase {

  private val refXpt = "/root/reference/crates/polars_readstat_rs/tests/sas/data/xpt"
  private val refPor = "/root/reference/crates/polars_readstat_rs/tests/spss/data/sample.por"

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("graft_xp").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/$name"
  }

  test("xpt fixtures open and read") {
    Seq("sample.xpt", "sas.xpt5", "sas.xpt8", "dates_xpt_v8.xpt", "ACQ_G.xpt")
      .foreach { f =>
        val df = spark.read.format("readstat").load(s"$refXpt/$f")
        assert(df.schema.nonEmpty, f)
        assert(df.count() > 0, f)
      }
  }

  test("ACQ_G.xpt IBM floats match pandas") {
    // pandas reads xpt natively; golden generated at dev time
    val df = spark.read.format("readstat").load(s"$refXpt/ACQ_G.xpt")
    val stats = df.agg(
      count(lit(1)), round(sum("SEQN"), 2), round(avg("ACD040"), 6)).collect()(0)
    assert(stats.getLong(0) == 6833)
    // cross-check one exact sum computed via pandas during development:
    // pandas: df.SEQN.sum() == 458256715.0
    assert(stats.getDouble(1) == 458256715.0)
  }

  test("por sample matches sav sample") {
    val por = spark.read.format("readstat").load(refPor)
    val sav = spark.read.format("readstat").load(res("fixtures/spss/sample.sav"))
    // POR uppercases names; align them
    val renamed = por.toDF(sav.columns.toIndexedSeq: _*)
    assertSameData(renamed, sav, "por-vs-sav")
  }

  test("xpt all-types roundtrip") {
    import spark.implicits._
    val df = Seq(
      (1, 1.5, "abc", java.sql.Date.valueOf("2020-01-02"),
        java.sql.Timestamp.valueOf("2021-03-04 05:06:07.0")),
      (2, -2.25, "", java.sql.Date.valueOf("1959-12-31"), null)
    ).toDF("id", "x", "s", "d", "ts")
    val path = tmp("rt.xpt")
    df.write.format("readstat").mode("overwrite").save(path)
    val back = spark.read.format("readstat")
      .option("missingStringAsNull", "false").load(path)
    val want = df
      .withColumn("id", col("id").cast(DoubleType))
      .withColumn("ts", col("ts").cast(TimestampNTZType))
    // XPT uppercases short names but keeps long name in label; our reader
    // uses namestr name (short, uppercase) for v5 — compare by position
    val gotRenamed = back.toDF(want.columns.toIndexedSeq: _*)
    assertSameData(gotRenamed, want, "xpt-roundtrip")
  }

  test("por all-types roundtrip") {
    import spark.implicits._
    val df = Seq(
      (1.0, "alpha", java.sql.Date.valueOf("2020-01-02")),
      (-2.5, "beta", java.sql.Date.valueOf("1959-12-31")),
      (Double.NaN, null.asInstanceOf[String], null.asInstanceOf[java.sql.Date])
    ).toDF("x", "s", "d")
    val path = tmp("rt.por")
    df.write.format("readstat").mode("overwrite").save(path)
    val back = spark.read.format("readstat")
      .option("missingStringAsNull", "false").load(path)
    val gotRenamed = back.toDF(df.columns.toIndexedSeq: _*)
    // NaN writes as missing '.', reads back null
    val want = df.withColumn("x",
      when(isnan(col("x")), lit(null).cast(DoubleType)).otherwise(col("x")))
    assertSameData(gotRenamed, want, "por-roundtrip")
  }

  test("xpt writer dodges pandas' tail-pad heuristic without disturbing our reader") {
    import spark.implicits._
    // pandas' xport reader subtracts 8-byte-ALIGNED all-space blocks in
    // the final 80-byte card from the data length; short strings in the
    // last rows supply such blocks and (with the data ending exactly on
    // the 80 boundary: 4 rows x 40 B) it would drop the last row. The
    // writer appends one fully-blank card exactly when that makes the
    // heuristic count correct.
    def pandasModelRows(path: String): Long = {
      val md = graft.core.xpt.XptCore.parse(path)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val dataLen = bytes.length - md.dataOffset
      val card = bytes.slice(bytes.length - 80, bytes.length)
      val blocks = (0 until 80 by 8).count(i =>
        (i until i + 8).forall(j => card(j) == ' '))
      (dataLen - 8L * blocks) / md.rowLength
    }
    // tripping geometry: a 24-byte char column (first row sets the
    // width) whose LAST rows hold short values → the final card carries
    // aligned all-space runs from real data, and 4 rows x 40 B end
    // exactly on the 80 boundary
    val bad = tmp("pdtail.xpt")
    val df = Seq((1.0, 1.5, "x" * 24), (2.0, 2.5, "b"), (3.0, 3.5, "c"),
      (4.0, 4.5, "d")).toDF("id", "v", "s")
    df.write.format("readstat").mode("overwrite").save(bad)
    val mdb = graft.core.xpt.XptCore.parse(bad)
    assert(mdb.rowLength == 40, s"geometry drifted: rowLength ${mdb.rowLength}")
    // the fix appended one blank card past the boundary-aligned data
    assert(new java.io.File(bad).length() == mdb.dataOffset + 4L * 40 + 80,
      "expected one appended blank card on the tripping geometry")
    assert(pandasModelRows(bad) == 4L, s"pandas model: ${pandasModelRows(bad)}")
    val back = spark.read.format("readstat")
      .option("missingStringAsNull", "false").load(bad)
    assert(back.count() == 4L)
    assert(back.agg(org.apache.spark.sql.functions.sum("v"))
      .collect()(0).getDouble(0) == 12.0)
    // non-tripping geometry (full-width strings): no extra card appended
    val good = tmp("pdtail2.xpt")
    val wide = Seq((1.0, 1.5, "x" * 24), (2.0, 2.5, "y" * 24),
      (3.0, 3.5, "z" * 24), (4.0, 4.5, "w" * 24)).toDF("id", "v", "s")
    wide.write.format("readstat").mode("overwrite").save(good)
    val mdg = graft.core.xpt.XptCore.parse(good)
    assert(new java.io.File(good).length() == mdg.dataOffset + 4L * mdg.rowLength,
      "no blank card should be appended when the tail is unambiguous")
    assert(pandasModelRows(good) == 4L)
  }

  test("xpt v8 write preserves long mixed-case names") {
    import spark.implicits._
    val df = Seq((1.0, "a", java.sql.Date.valueOf("2021-05-06")),
      (2.5, "bb", java.sql.Date.valueOf("1959-02-03")))
      .toDF("MyLongVariableName", "another_long_name_col", "EventDate")
    val path = tmp("v8.xpt")
    df.write.format("readstat").mode("overwrite")
      .option("xptVersion", "8").save(path)
    val md = graft.core.xpt.XptCore.parse(path)
    assert(md.version == 8)
    val back = spark.read.format("readstat")
      .option("missingStringAsNull", "false").load(path)
    // v8 longname field preserves the full original names
    assert(back.columns.toSeq ==
      Seq("MyLongVariableName", "another_long_name_col", "EventDate"))
    val got = back.orderBy("MyLongVariableName").collect()
    assert(got.map(_.getDouble(0)).toSeq == Seq(1.0, 2.5))
    assert(got.map(_.getString(1)).toSeq == Seq("a", "bb"))
    assert(got(1).getAs[java.sql.Date](2).toString == "1959-02-03")
    // default remains v5 with short uppercase names
    val p5 = tmp("v5.xpt")
    df.write.format("readstat").mode("overwrite").save(p5)
    assert(graft.core.xpt.XptCore.parse(p5).version == 5)
  }

  test("xpt varLabels write into namestr label fields and read back") {
    import spark.implicits._
    val df = Seq((1.0, "a")).toDF("income", "grp")
    val path = tmp("xptlbl.xpt")
    df.write.format("readstat").mode("overwrite")
      .option("varLabels", "income:Household income").save(path)
    // xpt v5 has only 8-char uppercase short names — labels are where
    // the original mixed-case identity survives
    val back = spark.read.format("readstat").load(path)
    assert(back.schema("INCOME").metadata.getString("readstat.label") ==
      "Household income")
    // unlabeled column keeps the long-name-as-label default
    assert(back.schema("GRP").metadata.getString("readstat.label") == "grp")
    assert(back.collect()(0).getDouble(0) == 1.0)
  }

  test("xpt varFormats write into namestr format fields (reference variable_format)") {
    import spark.implicits._
    val df = Seq((1.5, java.sql.Date.valueOf("2024-03-01"), java.sql.Date.valueOf("2024-03-02")))
      .toDF("amount", "d1", "d2")
    val path = tmp("xptfmt.xpt")
    df.write.format("readstat").mode("overwrite")
      .option("varFormats", "amount:DOLLAR12.2|d1:YYMMDD10.").save(path)
    val meta = spark.read.format("readstat-metadata").load(path)
      .select("name", "format").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(meta("AMOUNT") == "DOLLAR12.2", meta)
    assert(meta("D1") == "YYMMDD10", meta)
    // unspecified date column keeps the DATE9 default
    assert(meta("D2") == "DATE9", meta)
    // format names longer than the 8-byte namestr field are loud
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("varFormats", "amount:WAYTOOLONGFMT12.2").save(tmp("xf2.xpt"))
    }.getMessage.contains("8-byte"))
    // unknown column is loud
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("varFormats", "nosuch:F8.2").save(tmp("xf3.xpt"))
    }.getMessage.contains("unknown"))
  }

  test("xpt storageWidths: truncated numerics and padded chars roundtrip") {
    import spark.implicits._
    val df = Seq((1234.0, 1L, "ab"), (-98765.0, 2L, "wxyz"), (0.5, 3L, "q"))
      .toDF("v", "k", "s")
    val path = tmp("xptwid.xpt")
    df.write.format("readstat").mode("overwrite")
      .option("storageWidths", "v:4|s:20").save(path)
    // namestr nlng carries the declared widths
    val meta = spark.read.format("readstat-metadata").load(path)
      .select("name", "string_width_bytes").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(meta("S") == 20, meta)
    // 4-byte IBM floats keep 3 mantissa bytes — these values are exact
    val back = spark.read.format("readstat").load(path)
      .orderBy("K").collect()
    assert(back.map(_.getDouble(0)).toSeq == Seq(1234.0, -98765.0, 0.5))
    assert(back.map(_.getString(2)).toSeq == Seq("ab", "wxyz", "q"))
    // numeric width outside 3-8 is loud
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("storageWidths", "v:2").save(tmp("xw2.xpt"))
    }.getMessage.contains("3-8"))
    // char width below the observed maximum would truncate — loud
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("storageWidths", "s:3").save(tmp("xw3.xpt"))
    }.getMessage.contains("truncate"))
  }

  test("metadata-df-driven xpt write: labels, formats, string widths flow through") {
    import spark.implicits._
    val src = Seq((1.5, "ab"), (2.5, "x")).toDF("amount", "tag")
    val p1 = tmp("meta_src.xpt")
    src.write.format("readstat").mode("overwrite")
      .option("varLabels", "amount:Total amount")
      .option("varFormats", "amount:DOLLAR12.2")
      .option("storageWidths", "tag:16")
      .save(p1)
    val mdPath = tmp("meta.parquet")
    spark.read.format("readstat-metadata").load(p1)
      .write.mode("overwrite").parquet(mdPath)
    val p2 = tmp("meta_out.xpt")
    src.write.format("readstat").mode("overwrite")
      .option("metadataPath", mdPath).save(p2)
    val md = spark.read.format("readstat-metadata").load(p2)
      .select("name", "label", "format", "string_width_bytes")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(md("AMOUNT").getString(1) == "Total amount")
    assert(md("AMOUNT").getString(2) == "DOLLAR12.2")
    // the source file's 16-byte padded char width carries over
    assert(md("TAG").getInt(3) == 16, md("TAG").toString)
    assert(spark.read.format("readstat").load(p2)
      .orderBy("AMOUNT").collect().map(_.getString(1)).toSeq == Seq("ab", "x"))
  }

  test("metadata-df-driven por write: labels, value labels, formats flow through") {
    import spark.implicits._
    val src = Seq((1.0, 10.0, "A"), (2.0, 20.0, "B")).toDF("tier", "bal", "seg")
    val p1 = tmp("meta_src.por")
    src.write.format("readstat").mode("overwrite")
      .option("varLabels", "tier:Customer tier")
      .option("valueLabels", "tier:1=Bronze,2=Silver|seg:A=Alpha")
      .option("varFormats", "bal:F10.2")
      .save(p1)
    val mdPath = tmp("pormeta.parquet")
    spark.read.format("readstat-metadata").load(p1)
      .write.mode("overwrite").parquet(mdPath)
    // metadata names are uppercase (POR short names); the lowercase df
    // matches case-insensitively like the xpt writer
    val p2 = tmp("meta_out.por")
    src.write.format("readstat").mode("overwrite")
      .option("metadataPath", mdPath).save(p2)
    val back = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(p2)
    assert(back.schema("TIER").metadata.getString("readstat.label") ==
      "Customer tier")
    val rows = back.orderBy("BAL").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("Bronze", "Silver"))
    assert(rows.map(_.getString(2)).toSeq == Seq("Alpha", "B"))
    val md2 = spark.read.format("readstat-metadata").load(p2)
      .select("name", "format_type", "format_width", "format_decimals")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(md2("BAL").getInt(1) == 5 && md2("BAL").getInt(2) == 10 &&
      md2("BAL").getInt(3) == 2, md2("BAL").toString)
  }

  test("xpt tableName and fileLabel write into the member records") {
    import spark.implicits._
    val df = Seq((1.0, 2.0)).toDF("a", "b")
    val path = tmp("named.xpt")
    df.write.format("readstat").mode("overwrite")
      .option("tableName", "MYDATA")
      .option("fileLabel", "Quarterly extract")
      .save(path)
    val fm = spark.read.format("readstat-file-metadata").load(path)
      .select("file_label").collect()(0).getString(0)
    assert(fm == "Quarterly extract", fm)
    val bytes = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(path).toPath), "ISO-8859-1")
    assert(bytes.contains("MYDATA"))
    // v5 caps the dataset name at 8 chars — loud, not truncated
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("tableName", "WAYTOOLONGNAME").save(tmp("n2.xpt"))
    }.getMessage.contains("8"))
    // data still reads
    assert(spark.read.format("readstat").load(path).count() == 1L)
  }

  test("por varLabels + fileLabel roundtrip (reference PorWriteOptions)") {
    import spark.implicits._
    val df = Seq((1.0, "a")).toDF("income", "grp")
    val path = tmp("porlbl.por")
    df.write.format("readstat").mode("overwrite")
      .option("varLabels", "income:Household income")
      .option("fileLabel", "MY PORT FILE")
      .save(path)
    val back = spark.read.format("readstat").load(path)
    assert(back.schema("INCOME").metadata.getString("readstat.label") ==
      "Household income")
    assert(!back.schema("GRP").metadata.contains("readstat.label"))
    assert(back.collect()(0).getDouble(0) == 1.0)
    val fm = spark.read.format("readstat-file-metadata").load(path)
      .select("file_label").collect()(0).getString(0)
    assert(fm == "MY PORT FILE", fm)
    // over-long file label is rejected, not silently cut
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("fileLabel", "x" * 21).save(tmp("fl.por"))
    }.getMessage.contains("20"))
    // POR is ASCII-only: non-ASCII / over-long / control-char labels are
    // rejected like the xpt writer, never written raw into the stream
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("varLabels", "income:收入").save(tmp("cjk.por"))
    }.getMessage.contains("ASCII"))
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("varLabels", s"income:${"x" * 256}").save(tmp("long.por"))
    }.getMessage.contains("255"))
  }

  test("por value labels roundtrip (beyond reference: por.rs discards tag-'D')") {
    import spark.implicits._
    val df = Seq((0.0, "AUTO", 10.0), (1.0, "BLDG", 20.0), (2.0, "MISC", 30.0))
      .toDF("tier", "seg", "bal")
    val path = tmp("porvl.por")
    df.write.format("readstat").mode("overwrite")
      .option("valueLabels", "tier:0=Bronze,1=Silver|seg:AUTO=Cars,BLDG=Construction")
      .save(path)

    // labeled read: numeric labels apply, unlabeled code 2 falls back to
    // its string form; string labels apply, unlabeled "MISC" passes through
    val labeled = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(path)
      .orderBy("BAL").collect()
    assert(labeled.map(_.getString(0)).toSeq == Seq("Bronze", "Silver", "2"))
    assert(labeled.map(_.getString(1)).toSeq == Seq("Cars", "Construction", "MISC"))

    // unlabeled read: raw doubles and raw strings, schema unchanged
    val raw = spark.read.format("readstat").load(path)
    assert(raw.schema("TIER").dataType == DoubleType)
    assert(raw.orderBy("BAL").collect().map(_.getDouble(0)).toSeq ==
      Seq(0.0, 1.0, 2.0))

    // metadata-df surfaces the codes and labels like sav
    val md = spark.read.format("readstat-metadata").load(path)
      .where(col("name") === "TIER")
      .select("value_label_codes", "value_label_labels").collect()(0)
    assert(md.getSeq[String](0) == Seq("0", "1"))
    assert(md.getSeq[String](1) == Seq("Bronze", "Silver"))

    // refusals: temporal target, non-numeric code on numeric col, unknown
    // column, over-long label — loud, never silently dropped
    val dts = Seq((java.sql.Date.valueOf("2024-01-01"), 1.0)).toDF("d", "x")
    assert(intercept[IllegalArgumentException] {
      dts.write.format("readstat").mode("overwrite")
        .option("valueLabels", "d:0=Zero").save(tmp("vt.por"))
    }.getMessage.contains("temporal"))
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("valueLabels", "tier:abc=Bad").save(tmp("vn.por"))
    }.getMessage.contains("not numeric"))
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("valueLabels", "nope:1=x").save(tmp("vu.por"))
    }.getMessage.contains("unknown column"))
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("valueLabels", s"tier:1=${"x" * 61}").save(tmp("vl.por"))
    }.getMessage.contains("60"))
  }

  test("por user-missing values roundtrip with informative nulls (beyond reference)") {
    import spark.implicits._
    // tier: discrete missings 8 and 9 (9 labeled); score: range 90..99;
    // grade: string discrete missing "NA"
    val df = Seq(
      (1.0, 50.0, "A", 1.0),
      (8.0, 95.0, "NA", 2.0),
      (9.0, 99.0, "B", 3.0),
      (2.0, 91.5, "NA", 4.0))
      .toDF("tier", "score", "grade", "ord")
    val path = tmp("pormiss.por")
    df.write.format("readstat").mode("overwrite")
      .option("missingValues", "tier:8,9|score:90..99|grade:NA")
      .option("valueLabels", "tier:9=Refused")
      .save(path)

    // plain read: user-missing values come back null
    val plain = spark.read.format("readstat").load(path).orderBy("ORD").collect()
    assert(plain.map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq ==
      Seq(1.0, null, null, 2.0))
    assert(plain.map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq ==
      Seq(50.0, null, null, null))
    assert(plain.map(r => if (r.isNullAt(2)) null else r.getString(2)).toSeq ==
      Seq("A", null, "B", null))

    // informative nulls: indicator columns carry label / code / MISSING,
    // with the same sav semantics (label beats code, range → MISSING)
    val info = spark.read.format("readstat")
      .option("informativeNulls", "true").load(path)
    val suffix = "_null"
    assert(info.schema.fieldNames.toSeq ==
      Seq("TIER", s"TIER$suffix", "SCORE", s"SCORE$suffix",
        "GRADE", s"GRADE$suffix", "ORD", s"ORD$suffix"))
    val rows = info.orderBy("ORD").collect()
    def indCol(name: String) = rows.map { r =>
      val i = info.schema.fieldIndex(name)
      if (r.isNullAt(i)) null else r.getString(i)
    }.toSeq
    assert(indCol(s"TIER$suffix") == Seq(null, "8", "Refused", null))
    assert(indCol(s"SCORE$suffix") == Seq(null, "MISSING", "MISSING", "MISSING"))
    assert(indCol(s"GRADE$suffix") == Seq(null, "NA", null, "NA"))

    // informativeNullUseValueLabels=false: code form, never the label
    val noLbl = spark.read.format("readstat")
      .option("informativeNulls", "true")
      .option("informativeNullUseValueLabels", "false").load(path)
      .orderBy("ORD").collect()
    val ti = noLbl.map { r =>
      val i = 1 // TIER_null
      if (r.isNullAt(i)) null else r.getString(i)
    }.toSeq
    assert(ti == Seq(null, "8", "9", null))

    // refusals: range on a string column (non-numeric bounds die in the
    // shared spec parser; numeric bounds die on the string-column check),
    // non-numeric discrete on a numeric column
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("missingValues", "grade:a..z").save(tmp("ms.por"))
    }.getMessage.contains("not numeric"))
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("missingValues", "grade:1..2").save(tmp("ms2.por"))
    }.getMessage.contains("string"))
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("missingValues", "tier:oops").save(tmp("mn.por"))
    }.getMessage.contains("not numeric"))
  }

  test("por parallel scan: checkpoint partitions equal the sequential read (r11)") {
    import spark.implicits._
    val path = tmp("big.por")
    // varied string lengths so checkpoints land at irregular byte/line
    // positions; a declared missing exercises the resume decode path
    val df = (1 to 60000).map(i =>
        (i.toDouble, s"name_${i % 997}_${"x" * (i % 13)}", (i % 50).toDouble))
      .toDF("id", "s", "g")
    df.write.format("readstat").mode("overwrite")
      .option("missingValues", "g:3")
      .save(path)
    val seqDf = spark.read.format("readstat").load(path)
    assert(seqDf.rdd.getNumPartitions == 1)
    val parDf = spark.read.format("readstat")
      .option("partitionTargetBytes", (64 * 1024).toString).load(path)
    assert(parDf.rdd.getNumPartitions > 4,
      s"expected a real fan-out, got ${parDf.rdd.getNumPartitions}")
    assertSameData(parDf.orderBy("ID"), seqDf.orderBy("ID"), "por-parallel")
    // user-missing decode works identically mid-stream
    assert(parDf.filter(col("G").isNull).count() == 1200L)
    // the row index is GLOBAL across parallel partitions
    val ri = spark.read.format("readstat")
      .option("partitionTargetBytes", (64 * 1024).toString)
      .option("rowIndexName", "_idx").load(path)
      .select("_idx", "ID").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ri.length == 60000)
    assert(ri.forall { case (ix, id) => id == ix + 1 },
      ri.filterNot { case (ix, id) => id == ix + 1 }.take(3).mkString(","))
    // projection skim: a 1-column parallel read (other cells skimmed,
    // never decoded) matches the full read's column exactly
    val gSum = spark.read.format("readstat")
      .option("partitionTargetBytes", (64 * 1024).toString).load(path)
      .select("G").agg(sum("G")).collect()(0).getDouble(0)
    assert(gSum == 1200.0 * 1225 - 3600.0, gSum) // missing code 3 nulled
    // the checkpoint index built above answers COUNT(*) from metadata
    // now (normally por counts need a real scan — CountPushdownSpec)
    val cnt = spark.read.format("readstat").load(path).agg(count(lit(1)))
    assert(cnt.collect()(0).getLong(0) == 60000L)
    assert(cnt.queryExecution.executedPlan.toString
      .contains("count-star (metadata-only)"),
      "cached por index should serve the count")
  }

  test("por writer refuses an empty schema (reader would loop on a zero-var file)") {
    val df = spark.emptyDataFrame
    assert(intercept[Exception] {
      df.write.format("readstat").mode("overwrite").save(tmp("empty.por"))
    }.getMessage.contains("empty schema"))
  }

  test("por value labels survive the multiFile path") {
    import spark.implicits._
    val dir = tmp("porvlmf.por")
    Seq((0.0, 1.0), (1.0, 2.0)).toDF("tier", "bal").repartition(2)
      .write.format("readstat").mode("overwrite")
      .option("multiFile", "true")
      .option("valueLabels", "tier:0=Bronze,1=Silver")
      .save(dir)
    val back = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(dir)
      .orderBy("BAL").collect()
    assert(back.map(_.getString(0)).toSeq == Seq("Bronze", "Silver"))
  }

  test("xpt taggedMissings write .A-.Z/._ slots that roundtrip informative nulls") {
    import spark.implicits._
    // write-side tagged missings (inverse of the read-side capture): the
    // indicator column drives the first byte of the 8-byte missing slot
    val df = Seq(
      (Some(2.5), None: Option[String]),
      (None, Some(".A")),
      (None, None),
      (None, Some("._")),
      (None, Some("."))
    ).toDF("v", "v_null")
    val path = tmp("tagged.xpt")
    df.write.format("readstat").mode("overwrite")
      .option("taggedMissings", "v:v_null").save(path)
    val back = spark.read.format("readstat")
      .option("informativeNulls", "true").load(path)
    assert(back.columns.toSeq == Seq("V", "V_null"))
    assert(back.select("V_null").collect()
      .map(r => Option(r.getString(0)).orNull).toSeq ==
      Seq(null, ".A", null, "._", null))
    assert(back.select("V").collect()
      .map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq ==
      Seq(2.5, null, null, null, null))
    // regression (r12): an indicator column BEFORE other written
    // columns must not shift their byte offsets — the encoder once
    // indexed its offset table by input-row ordinal, writing the
    // post-indicator columns at the dropped column's offsets
    val p3 = tmp("tagged3.xpt")
    Seq((Some(2.5), None: Option[String], 10.0),
        (None, Some(".B"), 20.0))
      .toDF("v", "v_null", "w")
      .write.format("readstat").mode("overwrite")
      .option("taggedMissings", "v:v_null").save(p3)
    val back3 = spark.read.format("readstat")
      .option("informativeNulls", "true").load(p3).orderBy("W").collect()
    assert(back3.map(r => if (r.isNullAt(0)) null else r.getDouble(0)).toSeq ==
      Seq(2.5, null))
    assert(back3.map(r => Option(r.getString(1)).orNull).toSeq ==
      Seq(null, ".B"))
    assert(back3.map(_.getDouble(2)).toSeq == Seq(10.0, 20.0))

    // read → write → read is a fixpoint
    val p2 = tmp("tagged2.xpt")
    back.write.format("readstat").mode("overwrite")
      .option("taggedMissings", "V:V_null").save(p2)
    val back2 = spark.read.format("readstat")
      .option("informativeNulls", "true").load(p2)
    assertSameData(back2, back, "xpt-tagged-roundtrip")
    // bad tags fail loudly
    assert(intercept[Exception] {
      Seq((None: Option[Double], Some("NA"))).toDF("v", "v_null")
        .write.format("readstat").mode("overwrite")
        .option("taggedMissings", "v:v_null").save(tmp("badtag.xpt"))
    }.getMessage.contains(".A"))
  }

  test("xpt varLabels rejects over-long and non-Latin-1 labels loudly") {
    import spark.implicits._
    val df = Seq((1.0, "a")).toDF("income", "grp")
    // 41 chars: one past the namestr label field
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("varLabels", s"income:${"x" * 41}").save(tmp("long.xpt"))
    }.getMessage.contains("40-character"))
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("varLabels", "income:收入").save(tmp("cjk.xpt"))
    }.getMessage.contains("ISO-8859-1"))
    assert(intercept[IllegalArgumentException] {
      df.write.format("readstat").mode("overwrite")
        .option("varLabels", "incme:x").save(tmp("typo.xpt"))
    }.getMessage.contains("unknown column"))
  }

  test("xpt multi-partition write and parallel read") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (i.toDouble, s"r$i")).toDF("v", "s").repartition(4)
    val path = tmp("multi.xpt")
    df.write.format("readstat").mode("overwrite").save(path)
    val back = spark.read.format("readstat")
      .option("partitionTargetBytes", "8192").load(path)
    assert(back.rdd.getNumPartitions > 1)
    assert(back.count() == 5000)
    assert(back.agg(sum("V")).collect()(0).getDouble(0) == (1 to 5000).map(_.toDouble).sum)
  }

  test("xpt mid-file all-blank row is data, trailing padding still dropped") {
    import spark.implicits._
    // 60 single-char-column rows (~180 data bytes): row 5 is all spaces —
    // legitimate data well before the final 80-byte record. The old scan
    // terminated at the first all-blank row and dropped rows 6..60.
    val df = (1 to 60).map(i => (if (i == 5) "" else s"r$i")).toDF("s")
      .coalesce(1)
    val path = tmp("blankmid.xpt")
    df.write.format("readstat").mode("overwrite").save(path)
    val back = spark.read.format("readstat")
      .option("missingStringAsNull", "false").load(path)
    val got = back.collect().map(_.getString(0))
    assert(got.length == 60, s"expected 60 rows, got ${got.length}")
    assert(got(4) == "")
    assert(got(59) == "r60")
  }

  test("xpt fileMetadata row_count excludes the final record's padding rows") {
    import spark.implicits._
    // 8-byte rows: up to 9 all-space padding slots in the last 80-byte
    // record; 24-byte rows: up to 3
    for (cols <- Seq(1, 3); n <- 1 to 25) {
      val p = tmp(s"pad_${cols}_$n.xpt")
      val df = (1 to n).map(i => (i * 1.5, i * 2.0, i * 3.0)).toDF("a", "b", "c")
      df.select(df.columns.take(cols).map(col).toIndexedSeq: _*)
        .write.format("readstat").mode("overwrite").save(p)
      val meta = graft.api.Readstat.fileMetadata(spark, p)
        .select("row_count").collect()(0).getLong(0)
      val read = spark.read.format("readstat").load(p)
      assert(meta == read.count() && meta == read.collect().length && meta == n,
        s"$cols cols, $n rows: row_count $meta")
    }
  }

  test("xpt and por row index columns") {
    val x = spark.read.format("readstat")
      .option("rowIndexName", "_i").load(s"$refXpt/ACQ_G.xpt")
    val xi = x.select("_i").collect().map(_.getLong(0)).sorted
    assert(xi.toSeq == (0L until 6833L))
    val p = spark.read.format("readstat")
      .option("rowIndexName", "_i").load(refPor)
    assert(p.select("_i").collect().map(_.getLong(0)).toSeq == (0L until 5L))
  }

  test("multiFile write: directory of self-contained xpt parts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 3000).map(i => (i.toLong, s"n$i", i * 0.25))
      .toDF("id", "s", "v").repartition(4)
    val dir = java.nio.file.Files.createTempDirectory("graft_mxpt").toString + "/multi.xpt"
    df.write.format("readstat").mode("overwrite")
      .option("multiFile", "true").save(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("part-\\d{5}\\.xpt")).sortBy(_.getName)
    assert(parts.length == 4, s"${parts.length} parts")
    val back = spark.read.format("readstat").load(dir)
    assert(back.count() == 3000L)
    assert(back.agg(sum("V").cast("double")).collect()(0).getDouble(0) ==
      (1 to 3000).map(_ * 0.25).sum)
    val one = spark.read.format("readstat").load(parts(0).getAbsolutePath)
    assert(one.count() > 0 && one.columns.length == 3)
  }

  test("multiFile write: directory of self-contained por parts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 900).map(i => (i.toDouble, s"p$i")).toDF("id", "s")
      .repartition(3)
    val dir = java.nio.file.Files.createTempDirectory("graft_mpor").toString + "/multi.por"
    df.write.format("readstat").mode("overwrite")
      .option("multiFile", "true").save(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.matches("part-\\d{5}\\.por")).sortBy(_.getName)
    assert(parts.length == 3, s"${parts.length} parts")
    val back = spark.read.format("readstat").load(dir)
    assert(back.count() == 900L)
    assert(back.agg(sum("ID").cast("double")).collect()(0).getDouble(0) ==
      (1 to 900).map(_.toDouble).sum)
  }
}
