package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FSDataInputStream,
  FSDataOutputStream, FileStatus, FilterFs, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** One timed interval. Spans of one op share `op`; `parent` is the id of
  * the enclosing span (-1 for an op's root span). Times are
  * `System.nanoTime`, plus the wall-clock start in ms so Spark's job
  * events (stamped in wall ms) can be attached to ops by time. */
final case class Span(id: Int, op: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder, written out at exit. Ops are closed-loop and
  * run on the client thread, so a stack of open spans is enough. */
final class Spans {
  val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val open = mutable.Stack.empty[(Int, Int, String, Long, Long)]

  def time[T](op: Int, name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, op, name, System.nanoTime(), System.currentTimeMillis()))
    try body finally {
      val (_, _, _, s, sMs) = open.pop()
      done += Span(id, op, parent, name, s, System.nanoTime(), sMs,
        System.currentTimeMillis())
    }
  }
}

/** Filesystem op counts by (op, class) and bytes written by class, kept by
  * [[CountingFileSystem]] and [[CountingLocalFs]]. Static because Hadoop instantiates the
  * filesystem itself. */
object FsCounters {
  val Ops = Seq("open", "create", "rename", "delete", "list", "stat", "mkdirs")
  val Classes = Seq("data", "manifest", "groups", "index", "stats", "checkpoint")
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  /** Distinct data files opened since the last clear (one op). */
  val openedData: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  def add(key: String, n: Long): Unit =
    counts.computeIfAbsent(key, _ => new LongAdder).add(n)
  def snapshot(): Map[String, Long] =
    counts.asScala.map { case (k, v) => k -> v.sum() }.toMap

  /** The directory all benchmark tables live under; paths are classified
    * by their part below it. */
  @volatile var root: String = "/"

  /** The table-layout class of a path: index sidecars, the lance metadata
    * directories (versions, groups, stats, tags, ...), streaming
    * checkpoints, or fragment data. */
  def classOf(p: Path): String = {
    val full = p.toUri.getPath
    if (!full.startsWith(root)) return "other"
    val segs = full.stripPrefix(root).split('/').filter(_.nonEmpty)
    if (segs.exists(_ == "_indices")) "index"
    else if (segs.exists(_.endsWith("-ckpt"))) "checkpoint"
    else if (segs.exists(_ == "_groups")) "groups"
    else if (segs.exists(_ == "_stats")) "stats"
    else if (segs.exists(_.startsWith("_"))) "manifest"
    else if (segs.exists(_ == "data") || full.endsWith(".parquet")) "data"
    else "other"
  }

  /** Counts one call of `op` on `p`. */
  def count(op: String, p: Path): Unit = {
    val cls = classOf(p)
    add(s"$op.$cls", 1)
    if (op == "open" && cls == "data") openedData.add(p.toUri.getPath)
    if (op == "create" && p.toUri.getPath.contains("/_versions/")) add("manifest_writes", 1)
  }

  /** `out`, adding the bytes written to `p`'s class when it is closed. */
  def counted(out: FSDataOutputStream, p: Path): FSDataOutputStream = {
    val cls = classOf(p)
    new FSDataOutputStream(out, null) {
      override def close(): Unit = {
        add(s"bytes_written.$cls", getPos)
        super.close()
      }
    }
  }
}

/** The local filesystem, counting each metadata and data call by op and by
  * path class. Registered as `fs.file.impl` only in traced sessions. */
class CountingFileSystem extends LocalFileSystem {
  import FsCounters.count

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open", f); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count("create", f)
    FsCounters.counted(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress), f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count("rename", dst); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete", f); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count("list", f); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count("stat", f); super.getFileStatus(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count("mkdirs", f); super.mkdirs(f, permission)
  }
}

/** The same counting for `FileContext` callers (streaming checkpoints): the
  * local `AbstractFileSystem` (`LocalFs`, checksummed), counting each call.
  * Registered as `fs.AbstractFileSystem.file.impl` only in traced sessions;
  * Hadoop instantiates it with (URI, Configuration). */
class CountingLocalFs(uri: URI, conf: Configuration)
    extends FilterFs(CountingLocalFs.localFs(uri, conf)) {
  import FsCounters.count

  override def open(f: Path): FSDataInputStream = { count("open", f); super.open(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open", f); super.open(f, bufferSize)
  }
  override def createInternal(f: Path, flag: java.util.EnumSet[CreateFlag],
      permission: FsPermission, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable, checksumOpt: Options.ChecksumOpt,
      createParent: Boolean): FSDataOutputStream = {
    count("create", f)
    FsCounters.counted(super.createInternal(f, flag, permission, bufferSize,
      replication, blockSize, progress, checksumOpt, createParent), f)
  }
  override def renameInternal(src: Path, dst: Path): Unit = {
    count("rename", dst); super.renameInternal(src, dst)
  }
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
    count("rename", dst); super.renameInternal(src, dst, overwrite)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete", f); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count("list", f); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    count("stat", f); super.getFileStatus(f)
  }
  override def getFileLinkStatus(f: Path): FileStatus = {
    count("stat", f); super.getFileLinkStatus(f)
  }
  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit = {
    count("mkdirs", dir); super.mkdir(dir, permission, createParent)
  }
}

object CountingLocalFs {
  /** Hadoop's own `LocalFs`, made from a copy of `conf` that names it. */
  private def localFs(uri: URI, conf: Configuration): AbstractFileSystem = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    AbstractFileSystem.createFileSystem(uri, c)
  }
}

/** One finished Spark job with the stage metrics summed over its stages. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, module: String,
    stages: Int, tasks: Long, runMs: Long, cpuMs: Long, shuffleWrite: Long,
    shuffleRead: Long, inputRecords: Long, inputBytes: Long, outputBytes: Long,
    spill: Long)

/** Collects every job with its call-site module and stage task metrics.
  * A job goes to the first `graft.<module>` frame of its last stage's call
  * site; jobs are attached to ops, and frameless jobs to the layer span
  * they started in, later, by time ([[Layers]]). */
final class JobListener extends SparkListener {
  private case class StageAgg(tasks: Long, runMs: Long, cpuMs: Long,
      shuffleWrite: Long, shuffleRead: Long, inputRecords: Long,
      inputBytes: Long, outputBytes: Long, spill: Long)
  private val starts = new ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()

  private val Frame = """\bgraft\.([A-Za-z]+)([.$])""".r

  /** The module of the first `graft.*` frame: `graft.<module>.X` gives the
    * module, a top-level `graft.X` (the `Lance` facade) gives "api", and a
    * job with no engine frame (Spark-internal threads) gives "spark". */
  private def moduleOf(details: String): String =
    details.split('\n').iterator
      .filterNot(_.contains("perfbench"))
      .flatMap(l => Frame.findFirstMatchIn(l))
      .map(m => if (m.group(2) == ".") m.group(1) else "api")
      .nextOption().getOrElse("spark")

  /** Streaming queries pin every job's call site to where the query was
    * started, and adaptive execution submits shuffle stages from its own
    * threads, so a job whose recorded call site has no engine frame is
    * attributed from the live driver stacks instead: the engine frame of a
    * thread that is inside Spark below that frame, i.e. waiting on a job. */
  private def liveModule(): String =
    Thread.getAllStackTraces.asScala.iterator
      .filterNot(_._1.getName.startsWith("Executor task launch"))
      .flatMap { case (_, st) =>
        val g = st.indexWhere(f => !f.getClassName.startsWith("perfbench") &&
          Frame.findFirstIn(f.getClassName + ".").isDefined)
        if (g > 0 && st.take(g).exists(_.getClassName.startsWith("org.apache.spark")))
          Some(moduleOf(st(g).getClassName + "."))
        else None
      }.nextOption().getOrElse("spark")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val fromSite = e.stageInfos.sortBy(_.stageId).lastOption
      .map(s => moduleOf(s.details)).getOrElse("spark")
    val module = if (fromSite == "spark") liveModule() else fromSite
    starts.put(e.jobId, (e.time, module, e.stageIds))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val agg = if (m == null) StageAgg(i.numTasks, 0, 0, 0, 0, 0, 0, 0, 0)
    else StageAgg(i.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    stages.put(i.stageId, agg)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (t0, module, ids) = Option(starts.remove(e.jobId))
      .getOrElse((e.time, "other", Seq.empty))
    val ran = ids.flatMap(id => Option(stages.remove(id)))
    jobs.add(JobRec(e.jobId, t0, e.time, module, ran.size,
      ran.map(_.tasks).sum, ran.map(_.runMs).sum, ran.map(_.cpuMs).sum,
      ran.map(_.shuffleWrite).sum, ran.map(_.shuffleRead).sum,
      ran.map(_.inputRecords).sum, ran.map(_.inputBytes).sum,
      ran.map(_.outputBytes).sum, ran.map(_.spill).sum))
  }
}
