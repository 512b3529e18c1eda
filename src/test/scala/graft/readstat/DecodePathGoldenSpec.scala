package graft.readstat

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger

/** Every readstat scan runs one decode path: the module's columnar
  * decoder, with struct/merged informative nulls, `mergeSchema` null-fill
  * and widening, and streaming reshaped on the batches. The values are
  * pinned to the output of the retired row decoder, frozen as parquet
  * goldens under `golden/rowpath` (generator: tools/rowpath_goldens).
  */
class DecodePathGoldenSpec extends SparkTestBase {

  private def read(opts: Map[String, String], paths: String*): DataFrame =
    spark.read.format("readstat").options(opts).load(paths: _*)

  private val merge = Map("mergeSchema" -> "true")
  private val labels = Map("valueLabelsAsStrings" -> "true")
  private def inul(mode: String) =
    Map("informativeNulls" -> "true", "informativeNullMode" -> mode)

  test("regimes that used to decode rows scan columnar with row-path values") {
    val probe = rowPathInput("merge_probe.dta")
    val lab = rowPathInput("lab.dta")
    val cases: Seq[(String, () => DataFrame, String)] = Seq(
      ("struct informative nulls", () => read(inul("struct") +
        ("informativeNullUseValueLabels" -> "false"), rowPathInput("inul.dta")),
        "inul.dta.struct"),
      ("merged informative nulls", () => read(inul("merged"),
        rowPathInput("inul.sav")), "inul.sav.merged"),
      ("mergeSchema widening", () => read(merge,
        rowPathInput("widen_a.dta"), rowPathInput("widen_b.dta")), "widen"),
      ("mergeSchema null-fill", () => read(labels ++ merge, lab, probe),
        "lab.dta.mergeSchema"),
      ("mergeSchema, a file holds none of the required columns",
        () => read(labels ++ merge, lab, probe).select("code"),
        "lab.dta.mergeNone"))
    cases.foreach { case (regime, df, golden) =>
      assertColumnarGolden(df(), golden, regime)
    }

    val q = spark.readStream.format("readstat").load(rowPathInput("stream"))
      .writeStream.format("memory").queryName("decode_path_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"), s"stream not columnar:\n$plan")
    } finally q.stop()
    assertSameData(spark.table("decode_path_stream").orderBy("id"),
      rowPathGolden("stream"), "readStream micro-batch")
  }

  test("every fixture and generated input matches its row-path golden in every regime") {
    val fixtures = Seq("sas", "spss", "stata").flatMap { d =>
      new File(res(s"fixtures/$d")).listFiles().toSeq.sortBy(_.getName)
    }.map(f => f.getPath -> Map.empty[String, String])
    val tagged = Map("informativeNulls" -> "true",
      "informativeNullUseValueLabels" -> "false")
    def in(n: String) = rowPathInput(n)
    // the generated inputs with the read options their goldens froze
    val generated = Seq(
      in("plain.por") -> Map.empty[String, String],
      in("lab.dta") -> labels, in("lab.sav") -> labels, in("lab.por") -> labels,
      in("lab_xpt.xpt") -> (labels + ("catalog" -> in("lab_xpt.sas7bcat"))),
      in("lab_sas.sas7bdat") -> (labels + ("catalog" -> in("lab_sas.sas7bcat"))),
      in("inul.dta") -> tagged, in("inul.xpt") -> tagged,
      in("inul.sas7bdat") -> tagged,
      in("inul.sav") -> Map("informativeNulls" -> "true"),
      in("inul.por") -> Map("informativeNulls" -> "true"),
      in("cmp.dta") -> Map("compress" -> "true", "compressProbeRows" -> "6000"),
      in("ovr.sav") -> Map("schemaOverrides" -> "a TINYINT, s DOUBLE"))
    val probe = in("merge_probe.dta")
    var n = 0
    (fixtures ++ generated).foreach { case (p, base) =>
      val name = new File(p).getName
      val regimes: Seq[(String, () => DataFrame)] = Seq(
        "plain" -> (() => read(base, p)),
        "struct" -> (() => read(base ++ inul("struct"), p)),
        "merged" -> (() => read(base ++ inul("merged"), p)),
        "mergeSchema" -> (() => read(base ++ merge, p, probe)),
        "mergeNone" -> (() => read(base ++ merge, p, probe)
          .select(read(base, p).columns.head)))
      regimes.foreach { case (regime, df) =>
        assertColumnarGolden(df(), s"$name.$regime", s"$name $regime")
        n += 1
      }
    }
    assert(n == 5 * (fixtures.length + generated.length))
  }
}
