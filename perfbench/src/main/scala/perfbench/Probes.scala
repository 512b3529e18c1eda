package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Paths, StandardOpenOption}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.spark.readstat.{Formats, ReadstatOptions}

/** Largest heap in use after any GC, from the JVM's GC notifications. */
object Heap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        Heap.synchronized { if (after > peak) peak = after }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  /** Heap in use right after a full collection. */
  def liveAfterFullGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  def reset(): Unit = Heap.synchronized { peak = 0L }
  def peakBytes: Long = Heap.synchronized(peak)
}

/** Engine counters per op, from a SparkListener. Jobs carry the op id as
  * the `perfbench.op` local property; stages and tasks are mapped to it
  * through their job. */
final class EngineListener extends SparkListener {
  final class Counts {
    var jobs, stages, tasks, busyMs, waitMs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  }
  val byOp = new ConcurrentHashMap[Int, Counts]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private def counts(op: Int): Counts = byOp.computeIfAbsent(op, _ => new Counts)
  private def opOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(q => Option(q.getProperty(EngineListener.OpKey))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = opOf(e.properties).foreach { op =>
    e.stageIds.foreach(s => stageOp.put(s, op))
    val c = counts(op); c.synchronized { c.jobs += 1 }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val c = counts(op); c.synchronized { c.stages += 1 }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) {
        val c = counts(op)
        c.synchronized {
          c.tasks += 1
          c.busyMs += m.executorRunTime
          val sched = (i.finishTime - i.launchTime) - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime
          c.waitMs += math.max(0L, sched) + m.executorDeserializeTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        }
      }
    }
}

object EngineListener {
  val OpKey = "perfbench.op"
}

/** Ambient-load gauges recorded with every run, so a contaminated run can
  * be recognised later. Same design as `graft.Bench`: a fixed pure-CPU
  * aggregate over in-memory longs, and a sequential read of up to 256 MB
  * through one reusable direct buffer. Both workloads read the same
  * 256 MB sentinel file, so their figures compare with each other and
  * with `graft.Bench` on a file of at least that size. */
object Noise {
  val IoBytes: Long = 256L << 20

  def cpuMs(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000000L).agg(sum(col("id"))).collect()
    (System.nanoTime() - t0) / 1e6
  }

  private lazy val buf = ByteBuffer.allocateDirect(8 << 20)

  /** The machine-wide CPU tick counters of /proc/stat (user, nice,
    * system, idle, iowait, irq, softirq, steal), or empty where there is
    * no such file. */
  def cpuTicks(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong).toSeq finally src.close()
    } catch { case _: Exception => Nil }

  /** Share of CPU time the hypervisor took from this machine between two
    * `cpuTicks` readings, in percent; NaN when unknown. */
  def stealPct(a: Seq[Long], b: Seq[Long]): Double =
    if (a.length < 8 || b.length < 8) Double.NaN
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      if (d.sum <= 0) Double.NaN else 100.0 * d(7) / d.sum
    }

  /** Writes `IoBytes` of fixed, non-zero bytes to `f`; returns its path. */
  def sentinelFile(f: java.io.File): String = {
    val ch = FileChannel.open(f.toPath, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      buf.clear()
      var i = 0
      while (buf.hasRemaining) { buf.put((i * 31 + 7).toByte); i += 1 }
      var left = IoBytes
      while (left > 0) {
        buf.rewind()
        while (buf.hasRemaining) left -= ch.write(buf)
      }
    } finally ch.close()
    f.getPath
  }

  /** Reads min(file size, 256 MB) of `path` sequentially, stopping at EOF. */
  def ioMs(path: String): Double = {
    val ch = FileChannel.open(Paths.get(path))
    val t0 = System.nanoTime()
    try {
      var remaining = math.min(ch.size(), IoBytes)
      var sink = 0L
      while (remaining > 0) {
        buf.clear()
        if (remaining < buf.capacity()) buf.limit(remaining.toInt)
        val n = ch.read(buf)
        if (n <= 0) remaining = 0
        else { sink += buf.get(0).toLong + n; remaining -= n }
      }
      if (sink == Long.MinValue) println(sink)
    } finally ch.close()
    (System.nanoTime() - t0) / 1e6
  }
}

/** Layer probes. Each calls one layer directly, below the DataFrame API,
  * with the inputs an op used. */
object LayerProbe {
  /** `core`: the format's header parser alone. */
  def coreParse(path: String): Unit = {
    val lower = path.toLowerCase
    if (lower.endsWith(".dta")) graft.core.stata.StataParser.parse(path)
    else if (lower.endsWith(".sav") || lower.endsWith(".zsav")) graft.core.spss.SpssCore.parse(path)
    else if (lower.endsWith(".sas7bdat")) graft.core.sas.SasCore.parse(path)
    else if (lower.endsWith(".xpt")) graft.core.xpt.XptCore.parse(path)
    else if (lower.endsWith(".por")) {
      val s = new graft.core.por.PorCore.PorStream(path)
      try graft.core.por.PorCore.parseMeta(s) finally s.close()
    } else throw new IllegalArgumentException(s"no header parser for $path")
  }

  final case class Decoded(rowsIn: Long, rowsOut: Long, partitions: Int)

  /** `connector`: partition planning plus decode of every partition on at
    * most `threads` threads, with the op's required columns and pushed
    * filters (columnar where the module supports it, rows otherwise). */
  def decode(path: String, options: Map[String, String], required: Seq[String],
      pushed: Array[Filter], threads: Int): Decoded = {
    val module = Formats.moduleFor(path)
    val opts = ReadstatOptions.from(options.asJava).decodeNatural
    val full = module.schema(path, opts)
    // xpt and por writers upper-case names; Spark resolves them case-insensitively
    val req = StructType(required.map(n => full.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(full(n))))
    val parts = module.planPartitions(path, opts, None)
    val columnar = module.supportsColumnar(path, opts, req)
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, parts.length)))
    try {
      val futures = parts.map { p =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            if (columnar) module.columnarRows(p, opts, req, pushed).map(_.numRows.toLong).sum
            else module.rows(p, opts, req, pushed).size.toLong
        })
      }
      val out = futures.map(_.get()).sum
      val in = module.exactRowCount(path, opts).getOrElse(out)
      Decoded(in, out, parts.length)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** `io`: the file's bytes through one FileChannel. */
  def ioRead(path: String): Long = {
    val ch = FileChannel.open(Paths.get(path))
    val b = ByteBuffer.allocateDirect(1 << 20)
    try {
      var total = 0L
      var n = ch.read(b)
      while (n > 0) { total += n; b.clear(); n = ch.read(b) }
      total
    } finally ch.close()
  }
}
