package perfbench

/** Per-layer numbers of a traced run, derived from the op records, the
  * spans recorded around each layer call, the Spark jobs (attached to the
  * op running when they started) and the filesystem counters.
  *
  * Every per-op counter is reported as a mean over the workload's ops and,
  * in `kindMetrics`, per op kind. */
final class Layers(ops: Seq[OpRec], spans: Seq[Span], jobs: Seq[JobRec],
    fragments: Long, versionsCreated: Long, userBytes: String => Long) {

  val Modules = Seq("format", "connector", "index", "operators")

  private def opAt(t: Long): Option[OpRec] =
    ops.filter(o => o.startMs <= t && t <= o.endMs).lastOption

  private val jobsOf: Map[Int, Seq[JobRec]] =
    jobs.flatMap(j => opAt(j.startMs).map(o => o.idx -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  private val spansOf: Map[Int, Seq[Span]] = spans.filter(_.parent >= 0).groupBy(_.op)

  /** A job's module: the engine frame its listener found, else the layer
    * of the innermost span of its op that was open when it started (a
    * scan's or the sink's jobs carry no engine frame; the `Lance` facade
    * is not a module), else what the listener recorded (`api`, `spark`). */
  private def moduleOf(j: JobRec, o: OpRec): String =
    if (j.module != "spark" && j.module != "api") j.module
    else spansOf.getOrElse(o.idx, Nil)
      .filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      .sortBy(-_.startNs).map(_.name.takeWhile(_ != '.'))
      .find(spanLayers.contains).getOrElse(j.module)
  private val spanLayers = Modules :+ "functions"

  /** Time of the op not covered by any of its jobs. */
  private def outsideJobsMs(o: OpRec, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (j.startMs max o.startMs, j.endMs min o.endMs))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    math.max(0.0, o.ms - covered)
  }

  /** Every counter of one op. */
  val perOp: Map[Int, Map[String, Double]] = ops.map { o =>
    val js = jobsOf.getOrElse(o.idx, Nil)
    val sp = spansOf.getOrElse(o.idx, Nil)
    def sum(f: JobRec => Long) = js.map(f).sum.toDouble
    val base = Map(
      "latency_ms" -> o.ms,
      "rows_returned" -> o.rows.toDouble,
      "data_files_opened" -> o.dataFilesOpened.toDouble,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.task_run_ms" -> sum(_.runMs),
      "spark.task_cpu_ms" -> sum(_.cpuMs),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.input_records" -> sum(_.inputRecords),
      "spark.input_bytes" -> sum(_.inputBytes),
      "spark.output_bytes" -> sum(_.outputBytes),
      "spark.spill_bytes" -> sum(_.spill),
      "driver.outside_jobs_ms" -> outsideJobsMs(o, js),
      "driver.plan_ms" -> sp.filter(_.name.endsWith(".plan")).map(_.ms).sum)
    val byModule = js.groupBy(moduleOf(_, o)).toSeq.flatMap { case (m, mj) =>
      Seq(s"jobs.$m" -> mj.size.toDouble,
        s"job_ms.$m" -> mj.map(j => (j.endMs - j.startMs).toDouble).sum)
    }
    val fs = for (op <- FsCounters.Ops; c <- FsCounters.Classes :+ "other")
      yield s"fs.$op.$c" -> o.fs.getOrElse(s"$op.$c", 0L).toDouble
    val bytes = (FsCounters.Classes :+ "other").map(c =>
      s"fs.bytes_written.$c" -> o.fs.getOrElse(s"bytes_written.$c", 0L).toDouble)
    val spanMs = sp.groupBy(_.name).map { case (n, s) => s"span.$n" -> s.map(_.ms).sum }
    o.idx -> (base ++ byModule ++ fs ++ bytes ++ spanMs +
      ("manifest_writes" -> o.fs.getOrElse("manifest_writes", 0L).toDouble))
  }.toMap

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def counter(os: Seq[OpRec], key: String): Seq[Double] =
    os.map(o => perOp(o.idx).getOrElse(key, 0.0))
  private def spanMean(name: String): Double =
    mean(ops.flatMap(o => perOp(o.idx).get(s"span.$name")))
  private def kindLatency(kind: String): Double =
    mean(ops.filter(_.kind == kind).map(_.ms))
  private def ratio(os: Seq[OpRec], num: String, den: String): Double = {
    val d = counter(os, den).sum
    if (d == 0) 0.0 else counter(os, num).sum / d
  }

  private val annKinds = Set("ivf", "ivf_filtered", "hnsw", "read_ann")
  private val scanOps = ops.filter(o => perOp(o.idx).contains("span.connector.scan.exec"))

  /** The workload-level per-layer metrics: (value, unit) by name. */
  def workloadMetrics: Seq[(String, (Double, String))] = {
    val spansMs = for {
      layer <- Seq("index.ivf_search", "index.ivf_filtered", "index.hnsw_search",
        "connector.scan")
      part <- Seq("plan", "exec")
    } yield s"$layer.${part}_ms" -> (spanMean(s"$layer.$part"), "ms")
    val writes = ops.filter(_.write)
    val written = writes.map(o => FsCounters.Classes.map(c =>
      perOp(o.idx)(s"fs.bytes_written.$c")).sum + perOp(o.idx)("fs.bytes_written.other")).sum
    val user = writes.map(o => userBytes(o.kind)).sum
    val perOpMean = Seq(
      "spark.jobs" -> "count/op", "spark.stages" -> "count/op",
      "spark.tasks" -> "count/op", "spark.task_run_ms" -> "ms/op",
      "spark.task_cpu_ms" -> "ms/op", "spark.shuffle_write_bytes" -> "B/op",
      "spark.shuffle_read_bytes" -> "B/op", "spark.input_records" -> "count/op",
      "spark.input_bytes" -> "B/op", "spark.output_bytes" -> "B/op",
      "spark.spill_bytes" -> "B/op", "driver.outside_jobs_ms" -> "ms/op",
      "driver.plan_ms" -> "ms/op").map { case (k, u) =>
      s"${k}_per_op" -> (mean(counter(ops, k)), u)
    }
    val modules = Modules.flatMap(m => Seq(
      s"jobs.$m" -> (mean(counter(ops, s"jobs.$m")), "count/op"),
      s"job_ms.$m" -> (mean(counter(ops, s"job_ms.$m")), "ms/op")))
    val fs = (for (op <- FsCounters.Ops; c <- FsCounters.Classes)
      yield s"fs.$op.$c" -> (mean(counter(ops, s"fs.$op.$c")), "count/op")) ++
      FsCounters.Classes.map(c =>
        s"fs.bytes_written.$c" -> (mean(counter(ops, s"fs.bytes_written.$c")), "B/op"))
    spansMs ++ Seq(
      "functions.knn_exact.exec_ms" -> (spanMean("functions.knn_exact.exec"), "ms"),
      "ann.rows_scored_per_result" ->
        (ratio(ops.filter(o => annKinds(o.kind)), "spark.input_records", "rows_returned"), "ratio")
    ) ++ Seq(
      "connector.stream_epoch_ms" -> (spanMean("connector.stream_epoch"), "ms"),
      "scan.rows_read_per_row_returned" ->
        (ratio(scanOps, "spark.input_records", "rows_returned"), "ratio"),
      "scan.fragments_read_frac" ->
        (if (fragments == 0) 0.0 else mean(counter(scanOps, "data_files_opened")) / fragments,
          "fraction"),
      "operators.merge_ms" -> (spanMean("operators.merge"), "ms"),
      "operators.delete_ms" -> (spanMean("operators.delete"), "ms"),
      "operators.optimize_ms" -> (spanMean("operators.optimize"), "ms"),
      "operators.mv_read_ms" -> (kindLatency("read_mv"), "ms"),
      "commit.manifest_writes_per_commit" ->
        (if (versionsCreated == 0) 0.0
         else counter(writes, "manifest_writes").sum / versionsCreated, "ratio"),
      "write.bytes_written_per_user_byte" ->
        (if (user == 0) 0.0 else written / user, "ratio")
    ) ++ perOpMean ++ modules ++ fs
  }

  /** Per op kind: the op count, latency median and the mean of every
    * per-op counter. */
  def kindMetrics: Seq[(String, Map[String, Double])] =
    ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, os) =>
      val keys = os.flatMap(o => perOp(o.idx).keys).distinct.sorted
      kind -> (Map("ops" -> os.size.toDouble,
        "latency_p50_ms" -> Main.median(os.map(_.ms))) ++
        keys.map(k => k -> mean(counter(os, k))))
    }
}
