package graft.spark.readstat

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

/** File-arrival micro-batch stream over a directory of stat files:
  * `spark.readStream.format("readstat").load(dir)`.
  *
  * Offsets are the sorted set of file names seen so far (the same model
  * as Spark's built-in file stream source, without its compaction log —
  * stat-file drops are immutable once present, so a name either is or
  * is not in the offset). Each batch plans the NEW files through the
  * regular per-format partitioners, so a single large arrival still
  * fans out across executors; decoding reuses the batch row readers
  * unchanged (mergeSchema semantics included).
  */
class ReadstatMicroBatchStream(dir: String, required: StructType,
    opts: ReadstatOptions) extends MicroBatchStream {

  // Files admitted into offsets so far. Offsets must grow monotonically,
  // so admission is remembered here rather than re-derived per listing.
  private val admitted = scala.collection.mutable.TreeSet[String]()
  // Admission candidates: signature + when that signature was first seen.
  // A file is admitted once its signature has been stable for
  // streamStabilityMs across latestOffset calls — no in-call sleep.
  private val pending =
    scala.collection.mutable.HashMap[String, ((Long, Long), Long)]()
  // Last engine-committed offset's file set: files the stream has fully
  // consumed. Used to prune `admitted` safely (see latestOffset).
  @volatile private var committedFiles: Set[String] = Set.empty
  // mode=dropmalformed/permissive: a file that is STABLE but whose
  // header does not parse never enters the offset — a long-running
  // ingest must outlive one bad drop. Keyed by the rejected signature
  // so an in-place fix (new size/mtime) re-probes; until then rejection
  // costs one map lookup per trigger, no I/O.
  private val rejectedSigs =
    scala.collection.mutable.HashMap[String, (Long, Long)]()

  private def admissible(p: String, sig: (Long, Long)): Boolean =
    !opts.tolerant || {
      try { Formats.effectiveSchema(p, opts); true }
      catch {
        case scala.util.control.NonFatal(e) =>
          Formats.log.warn(s"readstat stream: mode=${opts.mode} rejecting " +
            s"malformed file $p: ${e.getMessage}")
          rejectedSigs(p) = sig
          false
      }
    }

  private def signatures(): Map[String, (Long, Long)] =
    MetadataPaths.expandDirectory(dir).map { p =>
      val f = new java.io.File(p)
      p -> (f.length(), f.lastModified())
    }.toMap

  private case class FilesOffset(files: Seq[String]) extends Offset {
    override def json(): String = {
      val m = new ObjectMapper()
      val arr = m.createArrayNode()
      files.foreach(arr.add)
      m.writeValueAsString(arr)
    }
  }

  override def initialOffset(): Offset = FilesOffset(Nil)

  /** Admit a file only once it looks fully written: a foreign writer may
    * create files in place at their final name (no atomic rename), and
    * for XPT a prefix read succeeds silently, making a short read
    * permanent data loss once the offset marks it consumed. A new file is
    * admitted only when its (size, mtime) signature has stayed unchanged
    * for at least `streamStabilityMs`, compared ACROSS latestOffset calls
    * — never with an in-call sleep, which would stall the micro-batch
    * planning thread by the full stability interval on every trigger
    * that sees any new file (round-6 advice). A file still changing has
    * its signature clock reset and is re-examined next trigger.
    * `streamStabilityMs=0` disables the check for landing zones with an
    * enforced atomic rename-into-place drop convention.
    *
    * Pruning: an admitted-but-not-yet-committed file that disappears
    * from the directory is dropped from `admitted` again — otherwise the
    * next batch plans a scan of a missing file and the stream fails
    * permanently. Names that were already COMMITTED stay remembered for
    * the lifetime of the stream even if the file is cleaned up (they are
    * part of the offset history; re-using a consumed file's name for new
    * data is not supported — drop new files under new names). */
  override def latestOffset(): Offset = synchronized {
    val now = System.currentTimeMillis()
    val listed = signatures()
    // prune: vanished before commit — un-admit (never consumed, and a
    // plan over it would fail); vanished pending entries just reset
    admitted.filterInPlace(p => listed.contains(p) || committedFiles.contains(p))
    pending.filterInPlace { case (p, _) => listed.contains(p) }
    rejectedSigs.filterInPlace { case (p, sig) => listed.get(p).contains(sig) }
    val fresh = listed.keySet.diff(admitted)
      .filterNot(p => rejectedSigs.get(p).contains(listed(p)))
    if (opts.streamStabilityMs <= 0)
      admitted ++= fresh.filter(p => admissible(p, listed(p)))
    else fresh.foreach { p =>
      val sig = listed(p)
      pending.get(p) match {
        case Some((`sig`, t0)) if now - t0 >= opts.streamStabilityMs =>
          pending.remove(p)
          if (admissible(p, sig)) admitted += p
        case Some((`sig`, _)) => // stable but young: keep waiting
        case _ => pending(p) = (sig, now) // new or still changing: reset
      }
    }
    FilesOffset(admitted.toList)
  }

  override def deserializeOffset(json: String): Offset = {
    val node = new ObjectMapper().readTree(json)
    require(node.isArray, s"readstat stream: bad offset $json")
    FilesOffset((0 until node.size()).map(i => node.get(i).asText()))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[FilesOffset].files.toSet
    val fresh = end.asInstanceOf[FilesOffset].files.filterNot(seen)
    DriverPar.mapOrdered(fresh) { p =>
        // mode=permissive: a file already in the offset history (e.g.
        // admitted before a restart, damaged since) must not wedge the
        // stream permanently — drop it with a warning, like the batch
        // planner. dropmalformed keeps its header-corrupt-only contract:
        // data-region damage still fails the batch
        if (!opts.salvage) Formats.moduleFor(p).planPartitions(p, opts, None)
        else try Formats.moduleFor(p).planPartitions(p, opts, None) catch {
          case scala.util.control.NonFatal(e) =>
            Formats.log.warn(s"readstat stream: mode=${opts.mode} dropping " +
              s"unplannable file $p: ${e.getMessage}")
            Seq.empty[RangePartition]
        }
      }
      .flatten.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ReadstatPartitionReaderFactory(required, opts, Array.empty,
      org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis)

  override def commit(end: Offset): Unit = end match {
    case FilesOffset(files) => committedFiles = files.toSet
    case other => committedFiles = deserializeOffset(other.json())
      .asInstanceOf[FilesOffset].files.toSet
  }
  override def stop(): Unit = ()
}
