package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up the workload several times, generate its
  * inputs, time a fixed number of passes over its ops (one client thread,
  * closed loop), and, with `--trace 1`, time a second, traced section that
  * yields the per-layer numbers. Writes a JSON record; `run.py` prints the
  * final result line.
  *
  *   Main --workload scan_large --seed 1 --seconds 10 --trace 0 \
  *        --work <dir> --out <record.json>
  */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  /** Passes of a traced section. */
  val TracedPasses = 3

  final case class Sample(op: Int, cls: String, name: String, ms: Double, ok: Boolean, round: Int)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work")).getAbsoluteFile
    val threads = Runtime.getRuntime.availableProcessors()
    val master = s"local[$threads]"

    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl = Workloads(name, seed)
    val errors = mutable.ArrayBuffer[String]()
    val opIds = new java.util.concurrent.atomic.AtomicInteger()
    def fail(msg: String): Unit = errors.synchronized { if (errors.length < 20) errors += msg }
    def runOp(op: Op, ctx: Ctx, round: Int): Sample = {
      val id = opIds.getAndIncrement()
      spark.sparkContext.setLocalProperty(EngineListener.OpKey, id.toString)
      val s = System.nanoTime()
      val ok = try ctx.tracer.root(id, s"client.${op.name}")(op.run(ctx)) catch {
        case e: Throwable => fail(s"${op.name}: ${e.toString.take(300)}"); false
      }
      val ms = (System.nanoTime() - s) / 1e6
      if (!ok) fail(s"${op.name}: output check failed")
      if (ctx.tracer.on)
        try probe(op, ctx, ctx.tracer.lastRootId) catch {
          case e: Exception => fail(s"probe ${op.name}: ${e.toString.take(300)}")
        }
      Sample(id, op.cls, op.name, ms, ok, round)
    }

    // ---- set-up ---------------------------------------------------------
    // One set-up generates the workload's inputs at set-up size into a
    // fresh directory and runs one pass of ops over them; setup_s is the
    // median of three. The set-ups also warm the JIT for the timed passes.
    // The full-size inputs are then generated once, and one untimed pass
    // over them fills the metadata caches and finishes the JIT's work on
    // full-size loops.
    val plain = new Ctx(spark, new Tracer(false), threads)
    var setupFailed = 0
    val setupTimes = (0 until Setups).map { k =>
      val sw = Workloads(name, seed, setup = true)
      val d = new File(work, s"setup$k")
      d.mkdirs()
      val s = System.nanoTime()
      sw.generate(spark, d.getPath)
      setupFailed += sw.round(d.getPath, -1 - k).map(runOp(_, plain, -1)).count(!_.ok)
      val t = (System.nanoTime() - s) / 1e9
      deleteTree(d)
      t
    }
    val setupS = Stats.median(setupTimes)
    val dir = new File(work, "inputs").getPath
    val g0 = System.nanoTime()
    wl.generate(spark, dir)
    val generateS = (System.nanoTime() - g0) / 1e9
    val w0 = System.nanoTime()
    setupFailed += wl.round(dir, -1).map(runOp(_, plain, -1)).count(!_.ok)
    val warmS = (System.nanoTime() - w0) / 1e9
    log(f"set-up: ${setupTimes.map(t => f"$t%.2f").mkString("/")} s; generation $generateS%.2f s; warm pass $warmS%.2f s")

    // ---- timed section (tracing off) ------------------------------------
    // A fixed number of passes. Every pass starts from a full GC, so each
    // pass's peak live heap is measured from the same state; the section
    // reports their median. The timings come from the passes the
    // hypervisor took the least CPU time from (Stats.calmPasses); while
    // too few passes are calm, up to as many again run (Stats.morePasses).
    // A traced
    // section also runs the workload's query probe after each of its
    // passes, into `queries`.
    val passes = wl.passes(seconds)
    val queryDir = new File(work, "tables").getPath
    val queries = mutable.ArrayBuffer[Sample]()
    final case class Section(samples: Seq[Sample], steal: Seq[Double], kept: Set[Int],
        elapsed: Double, peakHeap: Double, retained: Long)
    def section(ctx: Ctx, n: Int, extra: Boolean): Section = {
      val live0 = Heap.liveAfterFullGc()
      var live = live0
      val peaks = mutable.ArrayBuffer[Double]()
      val steal = mutable.ArrayBuffer[Double]()
      val out = mutable.ArrayBuffer[Sample]()
      val start = System.nanoTime()
      var r = 0
      while (r < n || extra && Stats.morePasses(steal.toSeq, n)) {
        Heap.reset()
        val c0 = Noise.cpuTicks()
        wl.round(dir, r).foreach(op => out += runOp(op, ctx, r))
        steal += Noise.stealPct(c0, Noise.cpuTicks())
        live = Heap.liveAfterFullGc()
        peaks += math.max(Heap.peakBytes, live).toDouble
        if (ctx.tracer.on)
          wl.queryProbe.foreach(_.round(queryDir, r).foreach(op => queries += runOp(op, ctx, r)))
        r += 1
      }
      val elapsed = (System.nanoTime() - start) / 1e9
      val kept = Stats.calmPasses(steal.toSeq, n)
      Section(out.toSeq, steal.toSeq, kept, elapsed, Stats.median(kept.toSeq.map(peaks)), live - live0)
    }
    val writesBefore = wl.writes.length
    val timedRun = section(plain, passes, extra = true)
    val timed = timedRun.samples
    log(f"timed section: ${timedRun.steal.length} passes, ${timed.length} ops in ${timedRun.elapsed}%.2f s; " +
      s"timings from passes ${timedRun.kept.toSeq.sorted.mkString(",")}")
    val timedWrites = wl.writes.slice(writesBefore, wl.writes.length).toSeq

    // ---- noise sentinels, after the timed section ----------------------
    val sentinel = Noise.sentinelFile(new File(work, "noise.bin"))
    Noise.cpuMs(spark); Noise.ioMs(sentinel)
    val noiseCpu = Noise.cpuMs(spark)
    val noiseIo = Noise.ioMs(sentinel)
    new File(sentinel).delete()

    // ---- traced section ---------------------------------------------------
    val listener = new EngineListener
    val tracedCtx = new Ctx(spark, new Tracer(true), threads)
    val traceResult = if (!traced) None else {
      spark.sparkContext.addSparkListener(listener)
      wl.queryProbe.foreach(_.gen.write(spark, queryDir))
      val wb = wl.writes.length
      val ts = section(tracedCtx, math.min(passes, TracedPasses), extra = false).samples
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Some((ts, wl.writes.slice(wb, wl.writes.length).toSeq))
    }

    // ---- query probe: every execution of a query must give one result ---
    val queryResults = new File(work, "results")
    val tracedQueries = wl.queryProbe.filter(_ => traced)
    val inconsistent: Set[String] = tracedQueries match {
      case Some(p) =>
        deleteTree(queryResults)
        p.names.map { q =>
          val (rows, schema) = p.firstResult(q)
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
            .write.mode("overwrite").parquet(new File(queryResults, q).getPath)
          q
        }.filter(q => p.digests(q).distinct.length > 1).toSet
      case None => Set.empty
    }

    // ---- metrics ----------------------------------------------------------
    // Every op counts in attempted/failed; only ops whose output check
    // passed, in the passes the timings come from, count in the latency
    // and pass-time figures.
    val all = timed ++ traceResult.map(_._1).getOrElse(Nil) ++ queries
    val attempted = all.length
    val failed = all.count(x => !x.ok || inconsistent(x.name))
    val good = timed.filter(x => x.ok && timedRun.kept(x.round))
    def ms(xs: Seq[Sample]) = xs.map(_.ms)
    def p50(xs: Seq[Sample]): Double = if (xs.isEmpty) 0.0 else Stats.hdQuantile(ms(xs), 0.5)
    val roundWall = timed.groupBy(_.round).toSeq.sortBy(_._1).map(_._2.map(_.ms).sum / 1e3)
    val passS = Stats.passSeconds(good.map(x => x.name -> x.ms))
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (passS, "s"),
      "op_p50_ms" -> (p50(good), "ms"),
      "peak_live_heap_mb" -> (timedRun.peakHeap / 1048576.0, "MB"))
    val p90 = Stats.p90(ms(good))
    val byCls = good.groupBy(_.cls)
    val wBytes = timedWrites.map(_._2).sum
    val wRows = timedWrites.map(_._3).sum
    val layers = mutable.LinkedHashMap[String, (Double, String)](
      "read_p50_ms" -> (p50(byCls.getOrElse("read", Nil)), "ms"),
      "meta_p50_ms" -> (p50(byCls.getOrElse("meta", Nil)), "ms"),
      "write_p50_ms" -> (p50(byCls.getOrElse("write", Nil)), "ms"),
      "written_bytes_per_row" -> (if (wRows == 0) 0.0 else wBytes.toDouble / wRows, "bytes/row"),
      "jvm.retained_heap_mb" -> (timedRun.retained / 1048576.0, "MB"),
      "noise.cpu_ms" -> (noiseCpu, "ms"),
      "noise.io_ms" -> (noiseIo, "ms"))
    traceResult.foreach { case (ts, tw) =>
      layers ++= LayerMetrics(ts, queries.toSeq, tw, tracedCtx, listener, passS)
    }

    val (nFiles, nBytes, nRows) = wl.inputSize(dir)
    val rec = new StringBuilder("{")
    def kv(k: String, v: String): Unit = rec.append(s"${Json.str(k)}:$v,")
    kv("workload", Json.str(name))
    kv("seed", seed.toString)
    kv("seconds", Json.num(seconds))
    kv("trace", (if (traced) 1 else 0).toString)
    kv("attempted", attempted.toString)
    kv("failed", failed.toString)
    kv("setup_failed", setupFailed.toString)
    kv("errors", errors.map(Json.str).mkString("[", ",", "]"))
    kv("e2e", Json.metrics(e2e))
    kv("layers", Json.metrics(layers))
    kv("op_p90_ms", p90.map(Json.num).getOrElse("null"))
    kv("op_samples", good.length.toString)
    kv("op_samples_beyond_p90", (if (good.isEmpty) 0 else Stats.beyond(ms(good), 0.9)).toString)
    kv("passes", passes.toString)
    kv("round_wall_s", roundWall.map(Json.num).mkString("[", ",", "]"))
    kv("timed_elapsed_s", Json.num(timedRun.elapsed))
    kv("pass_steal_pct", timedRun.steal.map(Json.num).mkString("[", ",", "]"))
    kv("kept_passes", timedRun.kept.toSeq.sorted.mkString("[", ",", "]"))
    kv("session_s", Json.num(sessionS))
    kv("setup_s", setupTimes.map(Json.num).mkString("[", ",", "]"))
    kv("generate_s", Json.num(generateS))
    kv("warm_pass_s", Json.num(warmS))
    kv("ops", timed.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, xs) =>
      val okMs = ms(xs.filter(x => x.ok && timedRun.kept(x.round)))
      s"${Json.str(n)}:{\"n\":${xs.length},\"failed\":${xs.count(!_.ok)}," +
        s"\"p50_ms\":${Json.num(if (okMs.isEmpty) 0.0 else Stats.median(okMs))},\"ms\":${okMs.map(Json.num).mkString("[", ",", "]")}}"
    }.mkString("{", ",", "}"))
    kv("input", s"""{"files":$nFiles,"bytes":$nBytes,"rows":$nRows}""")
    kv("env", s"""{"nproc":$threads,"master":${Json.str(master)},""" +
      s""""xmx_mb":${Runtime.getRuntime.maxMemory / 1048576},"java":${Json.str(sys.props("java.version"))}}""")
    tracedQueries.foreach { p =>
        kv("pipeline", s"""{"tables":${Json.str(queryDir)},"results":${Json.str(queryResults.getPath)},""" +
          s""""executions":${p.names.map(q => s"${Json.str(q)}:${all.count(_.name == q)}").mkString("{", ",", "}")},""" +
          s""""oracle_sql":${p.names.map(q => s"${Json.str(q)}:${Json.str(graft.SparkEntry.oracleSql(q))}").mkString("{", ",", "}")}}""")
    }
    rec.setLength(rec.length - 1)
    rec.append("}")
    Files.write(Paths.get(args("out")), rec.toString.getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(args("out") + ".spans.jsonl"),
      Trace.toJsonLines(tracedCtx.tracer.spans.toSeq).mkString("\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** A traced run's layer probes for one op, as siblings of its spans. */
  private def probe(op: Op, ctx: Ctx, rootId: Int): Unit = op.probes.foreach { pi =>
    val fmt = pi.path.substring(pi.path.lastIndexOf('.') + 1)
    val t = ctx.tracer
    def timed[T](span: String)(f: => T): (T, Double) = {
      val s = System.nanoTime()
      val v = t.sibling(rootId, span)(f)
      (v, (System.nanoTime() - s) / 1e6)
    }
    val f = new File(pi.path)
    if (f.isFile) {
      ctx.sample("core.parse_ms", timed("core.parse")(LayerProbe.coreParse(pi.path))._2)
      if (pi.decode) {
        val (d, ms) = timed("connector.decode")(
          LayerProbe.decode(pi.path, pi.options, pi.required, pi.pushed, ctx.threads))
        ctx.sample(s"connector.decode_ms.$fmt", ms)
        ctx.sample(s"connector.rows_decoded.$fmt", d.rowsIn.toDouble)
        ctx.sample(s"connector.decode_mb_per_s.$fmt", f.length() / 1048576.0 / (ms / 1e3))
        ctx.sample("connector.partitions", d.partitions.toDouble)
        if (pi.pushed.nonEmpty) {
          ctx.sample("filter.in", d.rowsIn.toDouble)
          ctx.sample("filter.out", d.rowsOut.toDouble)
        }
        ctx.sample("io.read_ms", timed("io.read")(LayerProbe.ioRead(pi.path))._2)
      }
    }
  }

  def listFiles(f: File): Seq[File] =
    if (f.isFile) Seq(f) else Option(f.listFiles()).toSeq.flatten.flatMap(listFiles)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")
}
