package graft.readstat

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Physical-plan assertions: pruning reaches the scan, plain scans run
  * columnar, and limits cap partition planning — the properties that
  * keep a 100 TB scan from decoding bytes nobody asked for.
  */
class PushdownPlanSpec extends SparkTestBase {

  private lazy val dtaPath: String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_plan").toFile
    d.deleteOnExit()
    val p = s"${d.getAbsolutePath}/plan.dta"
    (1 to 50000).map(i => (i, i * 0.5, s"s$i", i % 7))
      .toDF("a", "b", "s", "g")
      .write.format("readstat").mode("overwrite").save(p)
    p
  }

  test("projection pushdown prunes the scan to the selected columns") {
    val df = spark.read.format("readstat").load(dtaPath)
    val q = df.select("a", "b").filter(col("a") > 10)
    val scans = q.queryExecution.executedPlan.collectLeaves()
    val desc = scans.map(_.toString).mkString("\n")
    assert(desc.contains("cols=a,b"), s"scan not pruned:\n$desc")
    assert(!desc.contains("cols=a,b,s"), s"scan reads extra columns:\n$desc")
  }

  test("plain scans execute through the columnar path") {
    val df = spark.read.format("readstat").load(dtaPath)
    val plan = df.select("a", "b").queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected columnar scan:\n$plan")
  }

  test("limit pushdown caps partition planning") {
    val df = spark.read.format("readstat")
      .option("partitionTargetBytes", "65536").load(dtaPath)
    val full = df.rdd.getNumPartitions
    assert(full > 1, s"expected multiple partitions, got $full")
    val limited = df.limit(5)
    val parts = limited.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputPartitions.length
      }
    assert(parts.contains(1), s"limit should plan 1 partition, got $parts")
  }

  test("multi-file load unions partitions across files") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft_multi").toFile
    d.deleteOnExit()
    val p1 = s"${d.getAbsolutePath}/part1.dta"
    val p2 = s"${d.getAbsolutePath}/part2.dta"
    (1 to 100).map(i => (i, s"a$i")).toDF("id", "s")
      .write.format("readstat").mode("overwrite").save(p1)
    (101 to 250).map(i => (i, s"a$i")).toDF("id", "s")
      .write.format("readstat").mode("overwrite").save(p2)
    val both = spark.read.format("readstat").load(p1, p2)
    assert(both.count() == 250)
    assert(both.agg(sum("id")).collect()(0).getLong(0) ==
      (1 to 250).map(_.toLong).sum)
    // a directory load expands to the same-schema stat files it contains
    val dir = spark.read.format("readstat").load(d.getAbsolutePath)
    assert(dir.count() == 250)
    assert(dir.agg(sum("id")).collect()(0).getLong(0) ==
      (1 to 250).map(_.toLong).sum)
  }

  test("SF-scaled tables carry no forced broadcast hint; shuffle count pinned") {
    // q2/q3/q13 join against tables whose cardinality grows with the scale
    // factor (customer, a per-customer aggregate). A forced broadcast() on
    // those sides becomes a multi-GB driver broadcast at 100×; the strategy
    // must be left to AQE. Pin: no ResolvedHint survives optimization, and
    // the q13 self-join plans at most 3 shuffles (scan→agg, agg→join,
    // join→sort) — a regression adding an extra repartition would show here.
    val sf = "/root/testdata/sf0.001"
    val plans = Seq(
      graft.queries.Relational.q2TopCustomers(spark, sf),
      graft.queries.Relational.q3Shipping(spark, sf),
      graft.queries.Relational.q13AboveAvg(spark, sf))
    plans.foreach { df =>
      val hints = df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.UnresolvedHint => h
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.isEmpty, s"broadcast hint on an SF-scaled table:\n${df.queryExecution.analyzed}")
    }
    val q13 = graft.queries.Relational.q13AboveAvg(spark, sf)
    val shuffles = q13.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length <= 3, s"q13 plans ${shuffles.length} shuffles:\n${q13.queryExecution.executedPlan}")
  }

  test("compressed SAS pages (RLE and RDC) run the columnar path") {
    // test2 = SASYZCRL (RLE), test.sas7bdat = SASYZCR2 (RDC, 10k rows);
    // both must plan ColumnarToRow and match the row-path goldens
    // value-for-value
    for (fixture <- Seq("test2.sas7bdat", "test.sas7bdat"))
      assertColumnarGolden(
        spark.read.format("readstat").load(res(s"fixtures/sas/$fixture")),
        s"$fixture.plain", fixture)
  }

  test("compressed SPSS (bytecode and zsav) runs the columnar path") {
    for (fixture <- Seq("sample.sav", "sample.zsav", "sample_large.sav"))
      assertColumnarGolden(
        spark.read.format("readstat").load(res(s"fixtures/spss/$fixture")),
        s"$fixture.plain", fixture)
  }

  test("override scans stay columnar (r13 vector cast) with same results") {
    val plain = spark.read.format("readstat").load(dtaPath)
      .agg(sum("a"), sum("b")).collect()(0)
    val df = spark.read.format("readstat")
      .option("schemaOverrides", "a DOUBLE").load(dtaPath)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val overridden = df.agg(sum("a"), sum("b")).collect()(0)
    assert(plain.getLong(0).toDouble == overridden.getDouble(0))
    assert(plain.getDouble(1) == overridden.getDouble(1))
  }
}
