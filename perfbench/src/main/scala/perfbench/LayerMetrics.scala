package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer numbers of a traced section. Every name is reported on
  * every workload; a layer a workload does not exercise reads 0. */
object LayerMetrics {
  val Formats: Seq[String] = Seq("dta", "sav", "zsav", "sas7bdat", "por", "xpt")
  val Layers: Seq[String] = Seq("client", "core", "connector", "writers", "queries", "spark", "io")

  def apply(samples: Seq[Main.Sample], queries: Seq[Main.Sample], writes: Seq[(String, Long, Long)],
      ctx: Ctx, engine: EngineListener, untracedWall: Double): Seq[(String, (Double, String))] = {
    val spans = ctx.tracer.spans.toSeq
    val out = mutable.ArrayBuffer[(String, (Double, String))]()
    def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    def sampled(k: String): Double = med(ctx.samples.getOrElse(k, Nil))
    def spanMs(name: String): Double = med(spans.filter(_.name == name).map(_.dur / 1e6))
    val nOps = math.max(1, samples.length + queries.length)

    val tracedWall = Stats.passSeconds(samples.filter(_.ok).map(x => x.name -> x.ms))
    out += "trace.overhead_pct" -> ((tracedWall / untracedWall - 1) * 100, "%")
    val self = Trace.layerSelf(spans)
    Layers.foreach(l => out += s"trace.self_ms.$l" -> (self.getOrElse(l, 0L) / 1e6 / nOps, "ms"))

    Formats.foreach { f =>
      out += s"connector.decode_ms.$f" -> (sampled(s"connector.decode_ms.$f"), "ms")
      out += s"connector.rows_decoded.$f" -> (sampled(s"connector.rows_decoded.$f"), "rows")
      out += s"connector.decode_mb_per_s.$f" -> (sampled(s"connector.decode_mb_per_s.$f"), "MB/s")
    }
    val fin = ctx.samples.getOrElse("filter.in", Nil).sum
    val fout = ctx.samples.getOrElse("filter.out", Nil).sum
    out += "connector.filter_keep_ratio" -> (if (fin == 0) 0.0 else fout / fin, "ratio")
    out += "connector.partitions" -> (sampled("connector.partitions"), "count")
    out += "io.read_ms" -> (sampled("io.read_ms"), "ms")
    out += "core.parse_ms" -> (sampled("core.parse_ms"), "ms")
    out += "connector.schema_ms" -> (spanMs("connector.schema"), "ms")
    out += "connector.plan_ms" -> (spanMs("connector.plan"), "ms")
    out += "connector.count_meta_ms" ->
      (med(samples.filter(_.name.startsWith("count.")).map(_.ms)), "ms")

    Formats.foreach(f => out += s"writers.write_ms.$f" -> (spanMs(s"writers.write.$f"), "ms"))
    val counts = engine.byOp.asScala
    val writeOps = samples.filter(_.cls == "write").map(_.op)
    out += "writers.jobs_per_write" ->
      (if (writeOps.isEmpty) 0.0 else writeOps.map(o => counts.get(o).map(_.jobs).getOrElse(0L)).sum.toDouble / writeOps.length, "count")
    out += "writers.bytes_written" -> (med(writes.map(_._2.toDouble)), "bytes")
    out += "writers.rows_written" -> (med(writes.map(_._3.toDouble)), "rows")

    val traced = (samples ++ queries).map(_.op).toSet
    val cs = counts.collect { case (op, c) if traced(op) => c }.toSeq
    def per(f: engine.Counts => Long): Double = cs.map(f).sum.toDouble / nOps
    val mb = 1048576.0
    out += "spark.shuffle_write_mb" -> (per(_.shuffleWrite) / mb, "MB")
    out += "spark.shuffle_read_mb" -> (per(_.shuffleRead) / mb, "MB")
    out += "spark.spill_mb" -> (per(_.spill) / mb, "MB")
    out += "spark.peak_exec_mem_mb" -> ((if (cs.isEmpty) 0L else cs.map(_.peakExecMem).max) / mb, "MB")
    out += "spark.gc_ms" -> (per(_.gcMs), "ms")
    out += "spark.jobs" -> (per(_.jobs), "count")
    out += "spark.stages" -> (per(_.stages), "count")
    out += "spark.tasks" -> (per(_.tasks), "count")
    out += "spark.task_busy_ms" -> (per(_.busyMs), "ms")
    out += "spark.task_wait_ms" -> (per(_.waitMs), "ms")

    QueryProbe.Names.foreach(q => out += s"queries.${q}_s" -> (med(queries.filter(_.name == q).map(_.ms / 1e3)), "s"))
    out += "queries.build_ms" -> (spanMs("queries.build"), "ms")
    out.toSeq
  }
}
