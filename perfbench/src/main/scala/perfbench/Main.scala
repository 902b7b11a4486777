package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one client thread, `local[N]` with N =
  * the machine's processors.
  *
  * usage: perfbench.Main --workload <vector_search|cdc_ingest>
  *   --seed <n> --seconds <s> --trace <0|1> --data <dir> --report <file>
  *
  * Writes the report: every metric by name with its unit, the rows per op
  * kind, every op with its counters, and the failures; a traced run also
  * writes the spans and jobs next to it. `run.py` turns the report into
  * the benchmark's result line.
  */
object Main {
  final case class Metric(value: Double, unit: String)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dataDir = new File(a("data")).getAbsolutePath
    FsCounters.root = dataDir + "/"
    val cpu0 = cpuJiffies()
    val spark = session(trace)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val listener = if (trace) {
      val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None

    val wl: Workload = workload match {
      case "vector_search" => new VectorSearch(spark, seed)
      case "cdc_ingest" => new CdcIngest(spark, seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // ---- set-up, once, in this JVM; `setup_s` includes the session start
    val tables = s"$dataDir/tables"
    val setupT0 = System.nanoTime()
    val indexBuildS = wl.setup(tables)
    val setupS = sessionS + (System.nanoTime() - setupT0) / 1e9
    val heapAfterSetup = liveHeapMb()

    // ---- untimed warm-up, then the timed loop: a fixed number of whole
    // schedule cycles
    val warmT0 = System.nanoTime()
    val warm = new Runner(spark, trace = false)
    wl.warmup.zipWithIndex.foreach { case (kind, i) =>
      warm.op(kind, wl.isWrite(kind))(wl.run(warm, kind, -1 - i))
    }
    val warmupS = (System.nanoTime() - warmT0) / 1e9
    val cycles = math.max(1L, math.round(seconds / wl.nominalCycleS)).toInt
    val r = new Runner(spark, trace)
    val versions0 = wl.tableDirs.map(d => d -> latestVersion(spark, d)).toMap
    val gc0 = gcMs()
    val loopT0 = System.nanoTime()
    for (c <- 0 until cycles; (kind, j) <- wl.schedule.zipWithIndex) {
      val i = c * wl.schedule.size + j
      r.op(kind, wl.isWrite(kind))(wl.run(r, kind, i))
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    val loopOps = r.ops.size
    val gcLoop = gcMs() - gc0

    // ---- read-only workloads: a fixed commit probe, after the loop
    val probe = if (wl.schedule.exists(wl.isWrite)) None
      else Some(new CommitProbe(spark, s"$tables/commit_probe"))
    val probeT0 = System.nanoTime()
    probe.foreach(_.run(warm, r))
    val probeS = (System.nanoTime() - probeT0) / 1e9
    val versionsCreated = wl.tableDirs.map(d => latestVersion(spark, d) -
      versions0(d)).sum + probe.map(_.commits).getOrElse(0)

    // ---- untimed checks, memory, footprint, canaries
    val checksT0 = System.nanoTime()
    wl.verify(r)
    val heapLive = liveHeapMb()
    val dirs = wl.tableDirs ++ probe.map(_.path)
    val storedBytes = dirs.map(d => treeBytes(new File(d))).sum
    val fragments = wl.tableDirs.map(d => dataFiles(new File(d))).sum
    val canaryCpu = cpuCanary(spark)
    val canaryIo = ioCanary(new File(dataDir, "io-canary"))
    val checksS = (System.nanoTime() - checksT0) / 1e9
    val cpu1 = cpuJiffies()

    val ops = r.ops.toSeq
    val reads = ops.filter(!_.write).map(_.ms)
    val writes = ops.filter(_.write).map(_.ms)
    val failed = ops.count(!_.ok) + warm.ops.count(!_.ok)
    val attempted = ops.size + warm.ops.size
    val (readTail, readPct) = tail(reads)
    val (writeTail, writePct) = tail(writes)

    val m = mutable.LinkedHashMap.empty[String, Metric]
    def put(n: String, v: Double, u: String): Unit = m(n) = Metric(v, u)
    put("setup_s", setupS, "s")
    put("ops_per_s", loopOps / loopS, "ops/s")
    put("read_p50_ms", median(reads), "ms")
    put("read_tail_ms", readTail, "ms")
    put("write_p50_ms", median(writes), "ms")
    put("write_tail_ms", writeTail, "ms")
    put("recall_at_10", wl.recall, "fraction")
    put("index_build_s", indexBuildS, "s")
    val liveRows = wl.liveRows + probe.map(_.rows).getOrElse(0L)
    put("stored_bytes_per_row", storedBytes.toDouble / liveRows.max(1), "B/row")
    put("heap_live_mb", heapLive, "MiB")
    put("failed_op_frac", failed.toDouble / attempted, "fraction")

    val byKind = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    var perOp = Map.empty[Int, Map[String, Double]]
    listener.foreach { l =>
      org.apache.spark.perfbenchshim.ListenerBusShim.drain(spark.sparkContext)
      val layer = new Layers(ops, r.spans.done.toSeq, l.jobs.asScala.toSeq,
        fragments, versionsCreated,
        k => if (k == "commit_probe") probe.get.userBytes else wl.userBytes(k))
      perOp = layer.perOp
      layer.workloadMetrics.foreach { case (n, (v, u)) => put(n, v, u) }
      wl.buildTimes.foreach { case (n, v) => put(n, v, "ms") }
      Seq("index.ivf_build_ms", "index.hnsw_build_ms", "index.scalar_build_ms")
        .foreach(n => if (!m.contains(n)) put(n, 0.0, "ms"))
      put("jvm.gc_ms_per_op", gcLoop.toDouble / loopOps, "ms/op")
      put("jvm.heap_after_setup_mb", heapAfterSetup, "MiB")
      byKind ++= layer.kindMetrics
    }
    // machine context, not gated
    put("canary.cpu_s", canaryCpu, "s")
    put("canary.io_s", canaryIo, "s")
    put("machine.steal_frac", if (cpu1._2 == cpu0._2) 0.0
      else (cpu1._1 - cpu0._1).toDouble / (cpu1._2 - cpu0._2), "fraction")

    val report = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "timed_seconds" -> loopS, "timed_ops" -> loopOps, "cycles" -> cycles,
      "warmup_ops" -> warm.ops.size,
      "phases_s" -> Map("session" -> sessionS, "setup" -> (setupS - sessionS),
        "warmup" -> warmupS, "loop" -> loopS, "probe" -> probeS, "checks" -> checksS),
      "read_tail_percentile" -> readPct, "read_samples" -> reads.size,
      "write_tail_percentile" -> writePct, "write_samples" -> writes.size,
      "metrics" -> m.map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit) },
      "by_kind" -> byKind,
      "ops" -> ops.map(o => Map("idx" -> o.idx, "kind" -> o.kind, "ms" -> o.ms,
        "ok" -> o.ok, "error" -> o.error.getOrElse(""),
        "counters" -> perOp.getOrElse(o.idx, Map.empty))),
      "warmup_failures" -> warm.ops.filter(!_.ok).map(o => s"${o.kind}: ${o.error.getOrElse("")}"),
      "failures" -> ops.filter(!_.ok).map(o => s"${o.idx} ${o.kind}: ${o.error.getOrElse("")}"))
    Json.writeFile(new File(a("report")), report)
    if (trace) Json.writeSpans(new File(a("report") + ".spans.jsonl"), r.spans.done.toSeq,
      listener.map(_.jobs.asScala.toSeq).getOrElse(Nil))
    spark.stop()
  }

  def session(trace: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stopTimeout", "60s")
    // traced sessions count filesystem calls, through the FileSystem API
    // (`file:` FileSystem) and through FileContext (`file:`
    // AbstractFileSystem, which streaming checkpoints use)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (trace) {
      // a `file:` filesystem cached before the session existed would bypass
      // the counting one
      val conf = spark.sparkContext.hadoopConfiguration
      val uri = new java.net.URI("file:///")
      if (!org.apache.hadoop.fs.FileSystem.get(uri, conf).isInstanceOf[CountingFileSystem]) {
        org.apache.hadoop.fs.FileSystem.closeAll()
        require(org.apache.hadoop.fs.FileSystem.get(uri, conf).isInstanceOf[CountingFileSystem],
          "the counting file: filesystem is not in use")
      }
    }
    spark
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it (p90 at 100
    * samples), never below the median; returns (value, percentile). */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (Double.NaN, Double.NaN) else {
      val p = math.max(0.5, math.floor(100.0 * (1.0 - 10.0 / xs.size)) / 100.0)
      (percentile(xs, p), p)
    }

  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val x = p * (s.size - 1)
    val lo = math.floor(x).toInt; val hi = math.ceil(x).toInt
    s(lo) + (s(hi) - s(lo)) * (x - lo)
  }

  /** Heap in use after a full GC; the least of three readings 200 ms
    * apart, since Spark frees broadcast and shuffle blocks asynchronously
    * once a collection has found them unreachable. */
  private def liveHeapMb(): Double = Seq.fill(3) {
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** (steal, total) CPU time of the machine, in jiffies, from the first
    * line of /proc/stat; zeros where there is none. Steal is time a
    * virtual CPU was ready but another tenant's work ran. */
  private def cpuJiffies(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (v.length == 8) v(7) else 0L, v.sum)
    } finally src.close()
  } catch { case _: Exception => (0L, 0L) }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def latestVersion(spark: SparkSession, path: String): Long =
    graft.Lance.versions(spark, path).foldLeft(0L)(_ max _)

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else f.length()

  private def dataFiles(table: File): Long =
    Option(new File(table, "data").listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet")).toLong

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** The CPU reference job of `graft.Bench` (a codegen'd sum over a
    * 32-partition range), at an eighth of its size; median of 3 after a
    * warm-up. */
  private def cpuCanary(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, 32).selectExpr("sum(hash(id))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    median(Seq.fill(3)(once()))
  }

  /** The I/O reference job of `graft.Bench`: 128 x 8 KiB write+fsync on the
    * volume the tables live on; median of 3 after a warm-up. */
  private def ioCanary(dir: File): Double = {
    def once(): Double = try {
      dir.mkdirs()
      val buf = Array.fill[Byte](8192)(7)
      val t0 = System.nanoTime()
      (0 until 128).foreach { i =>
        val out = new java.io.FileOutputStream(new File(dir, s"c$i.bin"))
        try { out.write(buf); out.getFD.sync() } finally out.close()
      }
      (System.nanoTime() - t0) / 1e9
    } finally deleteTree(dir)
    once()
    median(Seq.fill(3)(once()))
  }
}

/** The commit path of a read-only workload, measured after its loop: a
  * fixed number of small appends to a table of its own, so no table the
  * loop reads changes version. */
final class CommitProbe(spark: SparkSession, val path: String) {
  /** Untimed commits first: the loop never wrote, so the write path is
    * not yet JIT-compiled. */
  val warmCommits = 4
  val commits = 16
  val rowsPerCommit = 100
  def rows: Long = (warmCommits + commits) * rowsPerCommit.toLong
  /** Two longs a row. */
  val userBytes: Long = rowsPerCommit * 16L
  def run(warm: Runner, r: Runner): Unit = (0 until warmCommits + commits).foreach { i =>
    val on = if (i < warmCommits) warm else r
    on.op("commit_probe", write = true) {
      val df = spark.range(i * rowsPerCommit, (i + 1) * rowsPerCommit, 1, 1)
        .selectExpr("id", "id * 2 AS v")
      on.span("format.commit")(graft.Lance.write(df, path))
      true
    }
  }
}
