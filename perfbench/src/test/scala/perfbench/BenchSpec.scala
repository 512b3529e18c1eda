package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit, sum}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Readstat

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private lazy val tmp = Files.createTempDirectory("perfbench-spec").toFile

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(tmp)
  }

  private def bytes(p: String): Array[Byte] = Files.readAllBytes(new File(p).toPath)

  test("the same seed gives identical file bytes in every format") {
    val formats = Seq("dta", "sav", "zsav", "sas7bdat", "por", "xpt")
    def writeAll(seed: Long, tag: String): Seq[String] = formats.map { f =>
      val g = Gen.Small(seed, 3, 500, 4)
      // same file name in another directory: some headers record the name
      val p = s"$tmp/$tag/data.$f"
      Readstat.write(g.frame(spark), p, g.options(f))
      p
    }
    val a = writeAll(7L, "a")
    val b = writeAll(7L, "b")
    val c = writeAll(8L, "c")
    a.zip(b).foreach { case (x, y) => assert(bytes(x).sameElements(bytes(y)), s"$x vs $y") }
    assert(a.zip(c).exists { case (x, y) => !bytes(x).sameElements(bytes(y)) })

    val n1 = s"$tmp/n1/wide.dta"
    val n2 = s"$tmp/n2/wide.dta"
    Readstat.write(Gen.Narrow(5L, 3000L).frame(spark, 3), n1)
    Readstat.write(Gen.Narrow(5L, 3000L).frame(spark, 2), n2)
    assert(bytes(n1).sameElements(bytes(n2)), "partitioning must not change the bytes")
    assert(Gen.Pipeline(5L, 50, 10, 10).texts.sameElements(Gen.Pipeline(5L, 50, 10, 10).texts))
  }

  test("a corrupted expectation makes the output check fail") {
    val g = Gen.Small(11L, 0, 400, 3)
    val p = s"$tmp/check.sav"
    Readstat.write(g.frame(spark), p)
    val row = Readstat.scan(spark, p).agg(count(lit(1)), Workloads.dsum("id"),
      g.numNames.map(Workloads.dsum).reduce(_ + _),
      g.strNames.map(s => sum(length(col(s)))).reduce(_ + _)).head()
    val (n, sid, sn, sl) = g.checksum
    val expected = Seq(n.toDouble, sid, sn, sl.toDouble)
    assert(Workloads.matches(row, expected))
    expected.indices.foreach { i =>
      assert(!Workloads.matches(row, expected.updated(i, expected(i) + 1)), s"field $i")
    }
    assert(!Workloads.matches(Row(1L, null), Seq(1.0, 0.0)), "a null never matches")
  }

  test("self time subtracts the union of children clipped to the parent") {
    val spans = Seq(
      Span(0, -1, 0, "client.read", 0, 100),
      Span(1, 0, 0, "connector.schema", 10, 30),
      Span(2, 0, 0, "spark.execute", 20, 50),
      Span(3, 2, 0, "spark.inner", 25, 35),
      Span(4, 0, 0, "core.parse", 90, 120))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - (40 + 10))
    assert(self(1) == 20)
    assert(self(2) == 30 - 10)
    assert(self(3) == 10)
    assert(self(4) == 30)
    val layer = Trace.layerSelf(spans)
    assert(layer("client") == 50)
    assert(layer("spark") == 30)
    assert(layer("core") == 30)
    assert(Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20)
  }

  test("the p90 is withheld when fewer than ten samples lie beyond it") {
    val few = (1 to 90).map(_.toDouble)
    assert(Stats.beyond(few, 0.9) == 9)
    assert(Stats.p90(few).isEmpty)
    val many = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(many, 0.9) == 10)
    assert(math.abs(Stats.p90(many).get - 90.1) < 1e-9)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("the Harrell-Davis median is centred and moves smoothly across a gap") {
    assert(math.abs(Stats.hdQuantile((1 to 101).map(_.toDouble), 0.5) - 51) < 1e-9)
    assert(Stats.hdQuantile(Seq(7.0), 0.5) == 7.0)
    def two(lo: Int) = Seq.fill(lo)(100.0) ++ Seq.fill(100 - lo)(200.0)
    // one sample crossing the gap moves the sample median by the full gap
    assert(Stats.median(two(51)) == 100.0 && Stats.median(two(49)) == 200.0)
    val (a, b) = (Stats.hdQuantile(two(51), 0.5), Stats.hdQuantile(two(49), 0.5))
    assert(a > 100 && b < 200 && b - a < 40, s"$a $b")
  }

  test("span recording nests children and keeps probes beside the op") {
    val t = new Tracer(true)
    t.root(4, "client.read") { t.span("connector.plan")(()); t.span("spark.execute")(()) }
    val root = t.lastRootId
    t.sibling(root, "io.read")(())
    assert(t.spans.map(_.parent) == Seq(-1, 0, 0, 0))
    assert(t.spans.forall(_.op == 4))
    assert(t.spans(3).start >= t.spans(0).end)
    val off = new Tracer(false)
    assert(off.root(1, "client.read")(off.span("x")(42)) == 42 && off.spans.isEmpty)
  }

  test("the work of a run depends only on the time budget") {
    val a = new IngestSmall(1L)
    assert(Seq(6.0, 12.0, 18.0, 30.0).map(a.passes) == Seq(6, 6, 12, 18))
    // over six passes every format writes every shape once
    a.formats.indices.foreach(i => assert((0 until 6).map(a.shapeOf(i, _)).sorted == (0 until 6)))
    (0 until 6).foreach(r => assert(a.formats.indices.map(a.shapeOf(_, r)).sorted == (0 until 6)))
    val s = Workloads("scan_large", 1L)
    assert(Seq(1.0, 18.0).map(s.passes) == Seq(3, 6))
    assert(Workloads("scan_large", 2L).passes(18.0) == 6)
  }

  test("timings come from the passes with the least hypervisor steal") {
    assert(Stats.calmPasses(Seq(0.5, 9.0, 1.0, 2.0, 30.0, 0.0), 6) == Set(0, 2, 3, 5))
    // too few calm passes: half the planned count, the calmest, counts
    assert(Stats.calmPasses(Seq(5.0, 9.0, 3.0, 12.0, 30.0), 5) == Set(0, 1, 2))
    assert(Stats.calmPasses(Seq(5.0, 9.0, 3.0, 12.0, 30.0, 1.0, 0.5, 4.0), 4) == Set(5, 6))
    assert(Stats.calmPasses(Seq(Double.NaN, Double.NaN, Double.NaN), 3) == Set(0, 1, 2))
  }

  test("extra passes run only while too few are calm, up to twice the plan") {
    assert(Stats.morePasses(Nil, 4) && Stats.morePasses(Seq(9.0, 9.0, 9.0), 4))
    assert(!Stats.morePasses(Seq(0.1, 0.2, 9.0, 9.0), 4))
    assert(Stats.morePasses(Seq(0.1, 9.0, 9.0, 9.0), 4))
    assert(!Stats.morePasses(Seq(0.1, 9.0, 9.0, 9.0, 9.0, 1.0), 4))
    assert(!Stats.morePasses(Seq.fill(8)(9.0), 4))
    assert(!Stats.morePasses(Seq.fill(3)(Double.NaN), 3))
  }
}
