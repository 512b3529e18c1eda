package graft.readstat

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decode-skipping filter pushdown (r12, SURVEY §2.2): pushed conjuncts
  * must be visible in the scan plan, and — because every pushed filter
  * is also kept as a Catalyst residual — results must be value-identical
  * with the pushdown active on both the columnar and row decode paths.
  */
class FilterPushdownSpec extends SparkTestBase {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_fpd").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private lazy val dtaPath: String = {
    import spark.implicits._
    val p = s"$dir/f.dta"
    (1 to 20000).map { i =>
      (i, i * 0.5, if (i % 13 == 0) null else s"s${i % 40}",
        if (i % 7 == 0) null else java.lang.Double.valueOf(i % 100))
    }.toDF("id", "x", "s", "v")
      .write.format("readstat").mode("overwrite").save(p)
    p
  }

  private def scanDesc(df: DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString("\n")

  test("pushed filters are visible in the scan plan") {
    val df = spark.read.format("readstat").load(dtaPath)
      .filter(col("x") > 100.0 && col("s") === "s7")
    val desc = scanDesc(df)
    assert(desc.contains("PushedFilters:"), s"no pushed filters in plan:\n$desc")
    assert(desc.contains("GreaterThan(x,100.0)"), desc)
    assert(desc.contains("EqualTo(s,s7)"), desc)
  }

  test("columnar filtered scan matches the residual-only result") {
    val base = spark.read.format("readstat").load(dtaPath)
    assert(base.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    // expected from the unfiltered read, filtered in memory
    val all = base.collect()
    def run(c: org.apache.spark.sql.Column, expect: Int): Unit = {
      val got = base.filter(c).collect()
      assert(got.length == expect, s"$c: ${got.length} rows, want $expect")
    }
    run(col("x") > 9999.0, all.count(r => r.getDouble(1) > 9999.0))
    run(col("id") <= 100, 100)
    run(col("s") === "s7", all.count(r => !r.isNullAt(2) && r.getString(2) == "s7"))
    run(col("v").isNull, all.count(_.isNullAt(3)))
    run(col("v").isNotNull && col("v") < 50.0,
      all.count(r => !r.isNullAt(3) && r.getDouble(3) < 50.0))
    run(col("id").isin(5, 500, 50000), 2)
    run(col("s").isin("s1", "s2"), all.count(r =>
      !r.isNullAt(2) && Set("s1", "s2").contains(r.getString(2))))
    run(!(col("id") > 10), 10)
    run(col("x") > 100.0 || col("id") < 10, all.count(r =>
      r.getDouble(1) > 100.0 || r.getInt(0) < 10))
    // aggregate over the filtered scan (the bench shape)
    val s = base.filter(col("id") > 10000).agg(sum("x")).collect()(0).getDouble(0)
    val want = all.filter(_.getInt(0) > 10000).map(_.getDouble(1)).sum
    assert(math.abs(s - want) < 1e-6)
  }

  test("informativeNulls scans stay columnar under pushed filters (r12)") {
    val rowDf = spark.read.format("readstat")
      .option("informativeNulls", "true").load(dtaPath)
    // r12: column-mode indicators decode columnar — no more row fallback
    assert(rowDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val desc = scanDesc(rowDf.filter(col("x") > 5000.0))
    assert(desc.contains("PushedFilters:"), desc)
    val got = rowDf.filter(col("x") > 5000.0 && col("s") =!= "s7")
      .agg(count(lit(1)), sum("id")).collect()(0)
    val all = spark.read.format("readstat").load(dtaPath).collect()
    val want = all.filter(r => r.getDouble(1) > 5000.0 &&
      !r.isNullAt(2) && r.getString(2) != "s7")
    assert(got.getLong(0) == want.length)
    assert(got.getLong(1) == want.map(_.getInt(0).toLong).sum)
  }

  test("mergeSchema row-path scan still skips via pushed filters") {
    import spark.implicits._
    // two files with differing columns: file B null-fills `extra` on
    // its batches, and both files' decoders still receive the pushed
    // predicate on `id`
    val d2 = Files.createTempDirectory("graft_fpd_ms").toFile
    d2.deleteOnExit()
    val pa = s"${d2.getAbsolutePath}/a.dta"
    val pb = s"${d2.getAbsolutePath}/b.dta"
    (1 to 5000).map(i => (i, i * 2.0, s"a$i")).toDF("id", "x", "extra")
      .write.format("readstat").mode("overwrite").save(pa)
    (5001 to 8000).map(i => (i, i * 2.0)).toDF("id", "x")
      .write.format("readstat").mode("overwrite").save(pb)
    val df = spark.read.format("readstat")
      .option("mergeSchema", "true").load(pa, pb)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val q = df.filter(col("id") > 4000 && col("id") <= 6000)
    assert(scanDesc(q).contains("PushedFilters:"), scanDesc(q))
    assert(q.count() == 2000)
    assert(q.agg(sum("x")).collect()(0).getDouble(0) ==
      (4001 to 6000).map(_ * 2.0).sum)
  }

  test("adaptive pred-disable across batches never changes results") {
    // batchRows=1000 → 20 batches in one partition; the 50%-selective
    // filter never passes the compaction gate, so the predicate
    // disables itself after two batches and later batches emit
    // unfiltered — the Catalyst residual must still produce exact rows
    val df = spark.read.format("readstat")
      .option("batchRows", "1000").load(dtaPath)
      .filter(col("x") > 5000.0)
    assert(scanDesc(df).contains("PushedFilters:"))
    assert(df.count() == 10000)
    assert(df.agg(sum("id")).collect()(0).getLong(0) ==
      (10001 to 20000).map(_.toLong).sum)
    // and a pushable filter selective enough to compact every batch
    val sel = spark.read.format("readstat")
      .option("batchRows", "1000").load(dtaPath)
      .filter(col("id") <= 20)
    assert(scanDesc(sel).contains("LessThanOrEqual(id,20)"), scanDesc(sel))
    assert(sel.count() == 20)
  }

  test("row index stays the FILE row number under a filtered scan") {
    val df = spark.read.format("readstat")
      .option("rowIndexName", "_ri").load(dtaPath)
      .filter(col("id") === 1500)
    assert(scanDesc(df).contains("PushedFilters:"))
    val r = df.select("_ri", "id").collect()
    assert(r.length == 1 && r(0).getLong(0) == 1499L)
    // and through a multi-partition scan
    val par = spark.read.format("readstat")
      .option("partitionTargetBytes", "65536")
      .option("rowIndexName", "_ri").load(dtaPath)
      .filter(col("id") % 4000 === 0)
    val rows = par.select("_ri", "id").orderBy("_ri").collect()
    assert(rows.map(_.getLong(0)).toSeq ==
      rows.map(_.getInt(1).toLong - 1).toSeq)
  }

  test("labeled column filters compare on the decoded label strings") {
    import spark.implicits._
    val p = s"$dir/lab.dta"
    (1 to 8000).map(i => (Integer.valueOf(i % 5), i))
      .toDF("code", "id")
      .write.format("readstat").mode("overwrite")
      .option("valueLabels", "code:1=One,2=Two,3=Three").save(p)
    val df = spark.read.format("readstat")
      .option("valueLabelsAsStrings", "true").load(p)
    val q = df.filter(col("code") === "Two")
    assert(scanDesc(q).contains("PushedFilters:"), scanDesc(q))
    assert(q.count() == 1600)
    // unlabeled code falls back to its rendered form and still filters
    assert(df.filter(col("code") === "4").count() == 1600)
  }

  test("sav/zsav/xpt/sas7bdat scans all push, skip and match") {
    import spark.implicits._
    val df0 = (1 to 12000).map { i =>
      (i.toDouble, i * 0.25, if (i % 9 == 0) null else s"t${i % 30}")
    }.toDF("id", "x", "s")
    for (ext <- Seq("sav", "zsav", "xpt", "sas7bdat")) {
      val p = s"$dir/multi.$ext"
      df0.write.format("readstat").mode("overwrite").save(p)
      val base = spark.read.format("readstat").load(p)
      val q = base.filter(col("id") > 6000.0 && col("s") === "t7")
      val desc = scanDesc(q)
      assert(desc.contains("PushedFilters:"), s"$ext:\n$desc")
      val all = base.collect()
      val want = all.count(r => r.getDouble(0) > 6000.0 &&
        !r.isNullAt(2) && r.getString(2) == "t7")
      assert(q.count() == want, s"$ext filtered count")
      // columnar regime engaged (all four serve batches unoptioned)
      assert(base.queryExecution.executedPlan.toString.contains("ColumnarToRow"), ext)
      // row path (informativeNulls) agrees
      val rowQ = spark.read.format("readstat")
        .option("informativeNulls", "true").load(p)
        .filter(col("id") > 6000.0 && col("s") === "t7")
      assert(rowQ.count() == want, s"$ext row-path filtered count")
      // row-index mapping survives the filtered columnar batch
      val ri = spark.read.format("readstat")
        .option("rowIndexName", "_ri").load(p)
        .filter(col("id") === 77.0).select("_ri").collect()
      assert(ri.length == 1 && ri(0).getLong(0) == 76L, s"$ext row index")
    }
  }

  test("single-column interval filters exercise the primitive fast path (r13)") {
    import spark.implicits._
    // IsNotNull + range conjuncts on ONE column reduce to the unboxed
    // interval evaluator on dta/sav/xpt/sas7bdat (two-column filters in
    // the test above stay on the generic path) — results must be
    // value-identical with the in-memory filter, including missing
    // cells, exclusive bounds, equality pins and empty intervals
    val df0 = (1 to 12000).map { i =>
      (i.toDouble,
        if (i % 7 == 0) null
        else java.lang.Double.valueOf((i % 100).toDouble),
        java.sql.Date.valueOf(
          java.time.LocalDate.of(1990, 1, 1).plusDays(i % 1500)))
    }.toDF("id", "v", "d")
    for (ext <- Seq("dta", "sav", "xpt", "sas7bdat")) {
      val p = s"$dir/ivl.$ext"
      df0.write.format("readstat").mode("overwrite").save(p)
      val base = spark.read.format("readstat").load(p)
      val all = base.collect()
      val q1 = base.filter(col("v") >= 20.0 && col("v") < 40.0)
      assert(scanDesc(q1).contains("PushedFilters:"), s"$ext:\n${scanDesc(q1)}")
      val w1 = all.count(r => !r.isNullAt(1) &&
        r.getDouble(1) >= 20.0 && r.getDouble(1) < 40.0)
      assert(q1.count() == w1, s"$ext numeric interval")
      val lo = java.sql.Date.valueOf("1991-01-01")
      val hi = java.sql.Date.valueOf("1991-06-01")
      val q2 = base.filter(col("d") >= lo && col("d") < hi)
      val w2 = all.count { r =>
        val d = r.getDate(2); d != null && !d.before(lo) && d.before(hi)
      }
      assert(w2 > 0 && q2.count() == w2, s"$ext date interval")
      assert(base.filter(col("v") === 55.0).count() ==
        all.count(r => !r.isNullAt(1) && r.getDouble(1) == 55.0),
        s"$ext equality interval")
      // contradictory bounds → EMPTY interval: every row skips, residual
      // agrees, no error
      assert(base.filter(col("v") > 10.0 && col("v") < 5.0).count() == 0,
        s"$ext empty interval")
    }
  }

  test("por scans push filters via skim-skipping on both paths") {
    import spark.implicits._
    val p = s"$dir/f.por"
    (1 to 9000).map(i =>
      (i.toDouble, if (i % 11 == 0) null else s"p${i % 20}", i * 0.5))
      .toDF("id", "s", "x")
      .write.format("readstat").mode("overwrite").save(p)
    val base = spark.read.format("readstat").load(p)
    assert(base.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    val q = base.filter(col("id") > 4500.0 && col("s") === "p3")
    assert(scanDesc(q).contains("PushedFilters:"), scanDesc(q))
    val all = base.collect()
    val want = all.count(r => r.getDouble(0) > 4500.0 &&
      !r.isNullAt(1) && r.getString(1) == "p3")
    assert(q.count() == want, "por columnar filtered count")
    // informativeNulls por scans are columnar too (r12); results match
    val rowQ = spark.read.format("readstat")
      .option("informativeNulls", "true").load(p)
      .filter(col("id") > 4500.0 && col("s") === "p3")
    assert(rowQ.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(rowQ.count() == want, "por informativeNulls filtered count")
    // parallel checkpoint partitions + row index mapping under the filter
    val par = spark.read.format("readstat")
      .option("partitionTargetBytes", "32768")
      .option("rowIndexName", "_ri").load(p)
    assert(par.rdd.getNumPartitions > 1)
    val rows = par.filter(col("id") % 3000.0 === 0.0)
      .select("_ri", "id").orderBy("_ri").collect()
    assert(rows.map(_.getLong(0)).toSeq ==
      rows.map(_.getDouble(1).toLong - 1).toSeq)
    // a filter whose predicate nothing matches → empty, not an error
    assert(base.filter(col("id") > 1e9).count() == 0)
  }

  test("date filters are claimed and skip on both decode paths (r13)") {
    import spark.implicits._
    val p = s"$dir/dt.dta"
    (1 to 2800).map(i => (java.sql.Date.valueOf(f"2024-01-${i % 28 + 1}%02d"), i))
      .toDF("d", "id")
      .write.format("readstat").mode("overwrite").save(p)
    val base = spark.read.format("readstat").load(p)
    val df = base.filter(col("d") === "2024-01-05")
    val desc = scanDesc(df)
    // r12 refused temporals; r13 compiles the literal once to epoch days
    assert(desc.contains("EqualTo(d,2024-01-05)"), desc)
    assert(df.count() == 100)
    // range + null-free date conjunct, columnar path
    val range = base.filter(col("d") >= "2024-01-10" && col("d") < "2024-01-13")
    assert(scanDesc(range).contains("GreaterThanOrEqual(d,2024-01-10)"),
      scanDesc(range))
    assert(range.count() == 300)
    // row path (informativeNulls) agrees
    val rowQ = spark.read.format("readstat")
      .option("informativeNulls", "true").load(p)
      .filter(col("d") >= "2024-01-10" && col("d") < "2024-01-13")
    assert(rowQ.count() == 300)
  }

  test("timestamp filters push on dta (%tc) and sav (DATETIME) scans (r13)") {
    import spark.implicits._
    val rows = (1 to 4800).map { i =>
      (java.sql.Timestamp.valueOf(f"2021-03-${i % 28 + 1}%02d 07:${i % 60}%02d:00"), i)
    }
    for (ext <- Seq("dta", "sav")) {
      val p = s"$dir/ts.$ext"
      rows.toDF("t", "id")
        .write.format("readstat").mode("overwrite").save(p)
      val base = spark.read.format("readstat").load(p)
      // read-back is TimestampNTZType — the literal arrives as a
      // LocalDateTime source filter and converts once to micros
      val q = base.filter(col("t") >= lit("2021-03-20 00:00:00").cast("timestamp_ntz"))
      assert(scanDesc(q).contains("GreaterThanOrEqual(t,"), s"$ext: ${scanDesc(q)}")
      val want = rows.count(_._1.toLocalDateTime.getDayOfMonth >= 20)
      assert(q.count() == want, s"$ext timestamp filtered count")
      // row path agrees
      val rowQ = spark.read.format("readstat")
        .option("rowIndexName", "_ri").load(p)
        .filter(col("t") >= lit("2021-03-20 00:00:00").cast("timestamp_ntz"))
      assert(rowQ.count() == want, s"$ext row-path timestamp count")
    }
  }

  test("string predicates (startsWith/endsWith/contains) push and match (r13)") {
    val base = spark.read.format("readstat").load(dtaPath)
    val all = base.collect()
    val q = base.filter(col("s").startsWith("s1") && col("s").endsWith("2"))
    val desc = scanDesc(q)
    assert(desc.contains("StringStartsWith(s,s1)"), desc)
    assert(desc.contains("StringEndsWith(s,2)"), desc)
    val want = all.count(r => !r.isNullAt(2) &&
      r.getString(2).startsWith("s1") && r.getString(2).endsWith("2"))
    assert(q.count() == want)
    val c = base.filter(col("s").contains("3"))
    assert(scanDesc(c).contains("StringContains(s,3)"), scanDesc(c))
    assert(c.count() == all.count(r => !r.isNullAt(2) && r.getString(2).contains("3")))
    // OR of two prefixes compiles (both sides evaluable)
    val or = base.filter(col("s").startsWith("s1") || col("s").startsWith("s2"))
    assert(or.count() == all.count(r => !r.isNullAt(2) &&
      (r.getString(2).startsWith("s1") || r.getString(2).startsWith("s2"))))
  }

  test("re-probe recovers skipping when sorted data turns selective mid-file") {
    // data sorted on the filter column: the first batches pass 100% of
    // rows (probe disables), later batches pass none — the periodic
    // re-probe must re-arm and results stay exact throughout
    val df = spark.read.format("readstat")
      .option("batchRows", "500").load(dtaPath) // 40 batches
      .filter(col("id") <= 5000)
    assert(scanDesc(df).contains("LessThanOrEqual(id,5000)"), scanDesc(df))
    assert(df.count() == 5000)
    assert(df.agg(sum("x")).collect()(0).getDouble(0) ==
      (1 to 5000).map(_ * 0.5).sum)
  }

  test("compress narrowing disables the claim (types reshape post-decode)") {
    val df = spark.read.format("readstat")
      .option("compress", "true").load(dtaPath)
      .filter(col("id") > 100)
    assert(!scanDesc(df).contains("PushedFilters:"), scanDesc(df))
    assert(df.count() == 19900)
  }
}
