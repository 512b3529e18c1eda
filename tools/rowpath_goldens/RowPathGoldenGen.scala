package graft.readstat

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Freezes the output of the retired row decoder as parquet goldens
  * (`src/test/resources/golden/rowpath`). It forces the row path with
  * the `columnar=false` option, so it only runs at a commit that still
  * has that option (919a867 and earlier):
  *
  * {{{
  *   git archive 919a867 | tar -x -C /tmp/parent
  *   cp tools/rowpath_goldens/RowPathGoldenGen.scala /tmp/parent/src/test/scala/graft/readstat/
  *   cd /tmp/parent && ROWPATH_GOLDEN_OUT=/tmp/rowpath sbt "testOnly graft.readstat.RowPathGoldenGen"
  *   cp -r /tmp/rowpath/. <repo>/src/test/resources/golden/rowpath/
  * }}}
  *
  * Inputs: every fixture under `fixtures/` plus the generated files of
  * `ColumnarParitySpec` (written to `inputs/` with the same frames and
  * writer options), each read in five regimes: `plain`, `struct` and
  * `merged` informative nulls, `mergeSchema` (the input plus a probe
  * file that shares no column with it) and `mergeNone` (the same merge
  * projected to the input's first column, so the probe file holds none
  * of the required columns). Two extra goldens: `widen` (a mergeSchema
  * read that widens both files' columns) and `stream` (every row a
  * `readStream` of `inputs/stream` emits). A case whose row read throws
  * is listed in `ERRORS.tsv` instead (none did at 919a867, so the
  * committed goldens have no such file).
  */
class RowPathGoldenGen extends SparkTestBase {

  private val out = new File(sys.env.getOrElse("ROWPATH_GOLDEN_OUT",
    "target/rowpath-golden"))
  private val inputs = new File(out, "inputs")

  private def writeInputs(): Unit = {
    import spark.implicits._
    inputs.mkdirs()
    val d = inputs.getAbsolutePath
    def save(df: DataFrame, name: String, opts: (String, String)*): Unit =
      df.write.format("readstat").mode("overwrite").options(opts.toMap)
        .save(s"$d/$name")
    save((1 to 4000).map(i =>
      (i.toDouble, if (i % 7 == 0) null else s"s$i", i % 13 * 0.25))
      .toDF("num", "txt", "frac"), "plain.por")
    save((1 to 5000).map(i =>
      (if (i % 11 == 0) null else Integer.valueOf(i % 7), i * 1.5))
      .toDF("code", "x"), "lab.dta",
      "valueLabels" -> "code:1=One,2=Two,3=Three")
    save((1 to 5000).map(i =>
      (if (i % 11 == 0) null else Integer.valueOf(i % 5),
        if (i % 3 == 0) "ab" else "zz", i * 0.5))
      .toDF("sex", "tag", "x"), "lab.sav",
      "valueLabels" -> "sex:1=Male,2=Female|tag:ab=Alpha")
    save((1 to 3000).map(i => (Integer.valueOf(i % 4), i * 2.0))
      .toDF("grade", "x"), "lab.por",
      "valueLabels" -> "grade:1=Low,2=Mid,3=High")
    for (name <- Seq("lab_xpt.xpt", "lab_sas.sas7bdat"))
      save((1 to 4000).map(i => (Integer.valueOf(i % 4).doubleValue(),
        if (i % 3 == 0) "ab" else "zz", i * 1.5))
        .toDF("sex", "tag", "x"), name,
        "valueLabels" -> "sex:1=Male,2=Female|tag:ab=Alpha")
    for (ext <- Seq("dta", "xpt", "sas7bdat")) {
      val (ta, tz) = if (ext == "dta") (".a", ".z") else (".A", ".Z")
      save((1 to 3000).map { i =>
        val tag = i % 7 match {
          case 0 => ta
          case 3 => tz
          case _ => null
        }
        (if (tag == null) java.lang.Double.valueOf(i.toDouble) else null,
          tag, i.toDouble)
      }.toDF("v", "v_null", "ord"), s"inul.$ext",
        "taggedMissings" -> "v:v_null")
    }
    save((1 to 3000).map(i =>
      (java.lang.Double.valueOf((i % 10).toDouble),
        if (i % 5 == 0) "NA" else s"ok$i", i.toDouble))
      .toDF("q", "s", "ord"), "inul.sav",
      "valueLabels" -> "q:9=Refused", "missingValues" -> "q:9|s:NA")
    save((1 to 3000).map(i =>
      (java.lang.Double.valueOf((i % 10).toDouble), i.toDouble))
      .toDF("q", "ord"), "inul.por",
      "valueLabels" -> "q:9=Refused", "missingValues" -> "q:9")
    save((1 to 6000).map { i =>
      (i % 2 * 1.0, (i % 100).toDouble, (i % 20000 - 10000).toDouble,
        i * 0.25, (i % 50).toString,
        java.sql.Timestamp.valueOf(f"2020-05-${i % 28 + 1}%02d 00:00:00"))
    }.toDF("flag", "small", "wide", "frac", "numstr", "ts"), "cmp.dta")
    save((1 to 4000).map(i => ((i % 120).toDouble, i.toDouble, s"${i % 7}"))
      .toDF("a", "b", "s"), "ovr.sav")
    save((1 to 3).map(i => i.toLong).toDF("merge_probe"), "merge_probe.dta")
    save((1 to 3000).map(i =>
      (i, (i % 300).toShort, if (i % 9 == 0) null else s"a$i"))
      .toDF("id", "x", "s"), "widen_a.dta")
    save((3001 to 4500).map(i => (i * 1.0, i % 70000, s"b$i"))
      .toDF("id", "x", "s"), "widen_b.dta")
    save((1 to 2500).map(i =>
      (i * 1.0, if (i % 4 == 0) null else s"r$i", i % 17))
      .toDF("id", "s", "k"), "stream/a.dta")
    save((2501 to 4000).map(i => (i * 1.0, s"r$i", i % 17))
      .toDF("id", "s", "k"), "stream/b.dta")
  }

  /** (file, base read options) for every input. */
  private def cases: Seq[(File, Map[String, String])] = {
    val fixtures = Seq("sas", "spss", "stata").flatMap { d =>
      new File(res(s"fixtures/$d")).listFiles().toSeq.sortBy(_.getName)
    }.map(f => f -> Map.empty[String, String])
    def in(n: String) = new File(inputs, n)
    val labels = Map("valueLabelsAsStrings" -> "true")
    val inul = Map("informativeNulls" -> "true")
    val generated = Seq(
      in("plain.por") -> Map.empty[String, String],
      in("lab.dta") -> labels, in("lab.sav") -> labels, in("lab.por") -> labels,
      in("lab_xpt.xpt") -> (labels + ("catalog" -> in("lab_xpt.sas7bcat").getPath)),
      in("lab_sas.sas7bdat") ->
        (labels + ("catalog" -> in("lab_sas.sas7bcat").getPath)),
      in("inul.dta") -> (inul + ("informativeNullUseValueLabels" -> "false")),
      in("inul.xpt") -> (inul + ("informativeNullUseValueLabels" -> "false")),
      in("inul.sas7bdat") -> (inul + ("informativeNullUseValueLabels" -> "false")),
      in("inul.sav") -> inul, in("inul.por") -> inul,
      in("cmp.dta") -> Map("compress" -> "true", "compressProbeRows" -> "6000"),
      in("ovr.sav") -> Map("schemaOverrides" -> "a TINYINT, s DOUBLE"))
    fixtures ++ generated
  }

  private def rowRead(opts: Map[String, String], paths: String*): DataFrame =
    spark.read.format("readstat").options(opts)
      .option("columnar", "false").load(paths: _*)

  private def saveGolden(df: DataFrame, name: String): Unit = {
    val tmp = Files.createTempDirectory("rowpath_golden").toFile
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/g")
    val part = new File(s"$tmp/g").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, new File(out, s"$name.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("generate row-path goldens") {
    writeInputs()
    val errors = Seq.newBuilder[String]
    def attempt(name: String)(df: => DataFrame): Unit =
      try {
        val d = df
        assert(!d.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
          s"$name did not run the row path")
        saveGolden(d, name)
      } catch {
        case e: Exception =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("\\s+", " ").take(200)
          errors += s"$name\t$msg"
      }
    val probe = new File(inputs, "merge_probe.dta").getPath
    cases.foreach { case (f, base) =>
      val p = f.getPath
      val n = f.getName
      attempt(s"$n.plain")(rowRead(base, p))
      for (mode <- Seq("struct", "merged"))
        attempt(s"$n.$mode")(rowRead(base ++ Map("informativeNulls" -> "true",
          "informativeNullMode" -> mode), p))
      val merge = base + ("mergeSchema" -> "true")
      attempt(s"$n.mergeSchema")(rowRead(merge, p, probe))
      attempt(s"$n.mergeNone")(rowRead(merge, p, probe)
        .select(spark.read.format("readstat").options(base).load(p).columns.head))
    }
    attempt("widen")(rowRead(Map("mergeSchema" -> "true"),
      new File(inputs, "widen_a.dta").getPath,
      new File(inputs, "widen_b.dta").getPath))
    val streamDir = new File(inputs, "stream").getPath
    val q = spark.readStream.format("readstat").load(streamDir)
      .writeStream.format("memory").queryName("rowpath_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try q.processAllAvailable() finally q.stop()
    saveGolden(spark.table("rowpath_stream").orderBy("id"), "stream")
    val lines = errors.result()
    Files.write(new File(out, "ERRORS.tsv").toPath,
      lines.mkString("", "\n", if (lines.isEmpty) "" else "\n").getBytes("UTF-8"))
  }
}
