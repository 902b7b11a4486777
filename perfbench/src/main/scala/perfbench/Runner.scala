package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One completed (or failed) op of the timed loop. `fs` is the delta of the
  * filesystem counters over the op (traced runs only). */
final case class OpRec(idx: Int, kind: String, write: Boolean, startMs: Long,
    endMs: Long, ms: Double, ok: Boolean, error: Option[String],
    rows: Long, fs: Map[String, Long], dataFilesOpened: Int)

/** Runs ops in a closed loop with one client (this thread): each op is
  * submitted, waited for, timed as a root span, and checked. Child spans
  * are recorded around the calls into each layer. */
final class Runner(val spark: SparkSession, val trace: Boolean) {
  val spans = new Spans
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private var current = -1
  private var returned = 0L

  /** Run one op. `body` returns false for a wrong answer; an exception is a
    * failed op too. Either way the loop continues. */
  def op(kind: String, write: Boolean)(body: => Boolean): Unit = {
    val idx = ops.size
    current = idx
    returned = 0L
    FsCounters.openedData.clear()
    val fs0 = if (trace) FsCounters.snapshot() else Map.empty[String, Long]
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ok, err) =
      try spans.time(idx, kind)(body) match {
        case true => (true, None)
        case false => (false, Some("wrong result"))
      } catch { case e: Throwable => (false, Some(e.toString.take(300))) }
    val ms = (System.nanoTime() - t0) / 1e6
    val fsDelta = if (!trace) Map.empty[String, Long] else {
      val fs1 = FsCounters.snapshot()
      fs1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }.filter(_._2 != 0)
    }
    ops += OpRec(idx, kind, write, s0, System.currentTimeMillis(), ms, ok, err,
      returned, fsDelta, FsCounters.openedData.size)
    current = -1
  }

  /** A child span of the running op. */
  def span[T](name: String)(body: => T): T = spans.time(current, name)(body)

  /** A query through a layer: the API call that builds the DataFrame and
    * the physical planning (`executedPlan`, forced) are `<layer>.plan`;
    * the `collect` is `<layer>.exec`. */
  def query(layer: String)(mk: => DataFrame): Array[Row] = {
    val df = span(s"$layer.plan") {
      val d = mk
      d.queryExecution.executedPlan
      d
    }
    val rows = span(s"$layer.exec")(df.collect())
    returned += rows.length
    rows
  }

  /** Mark a post-loop check failure against an op already recorded. */
  def fail(idx: Int, why: String): Unit =
    ops(idx) = ops(idx).copy(ok = false, error = Some(why))
}

/** A benchmark workload: a seeded set-up, a fixed cyclic op schedule, and
  * the checks of every op's answer. */
trait Workload {
  /** Builds every table, index and view under `dir`; returns the seconds
    * spent in index builds. Called once, before the loop. */
  def setup(dir: String): Double
  /** Op kinds in schedule order; the loop runs whole cycles of it. The
    * schedule is the same for every seed; only the data and the op
    * parameters depend on the seed. */
  def schedule: IndexedSeq[String]
  /** Seconds one schedule cycle takes on a 4-core machine at the commit the
    * benchmark was defined on. The loop runs round(seconds / this) whole
    * cycles, at least one, so every run of a given length runs the same op
    * sequence and its counters can repeat exactly. */
  def nominalCycleS: Double
  def isWrite(kind: String): Boolean
  /** Ops run once, untimed, between set-up and the loop, so that state
    * built lazily on first use (JIT-compiled and generated code, the
    * stream's first micro-batch) is not timed. Their answers are still
    * checked. */
  def warmup: Seq[String]
  /** Runs op number `i` of the loop (of kind `schedule(i % schedule.size)`);
    * warm-up ops get negative numbers. */
  def run(r: Runner, kind: String, i: Int): Boolean
  /** Checks that need the source data or the whole run (answers compared
    * after the timed loop); marks failed ops on the runner. */
  def verify(r: Runner): Unit
  /** Mean top-10 overlap with the exact answer; `Double.NaN` when no op
    * measured it. */
  def recall: Double
  /** Every table directory of the workload, for the bytes-on-disk metric. */
  def tableDirs: Seq[String]
  def liveRows: Long
  /** Per-index build times of the last set-up, in ms, by metric name. */
  def buildTimes: Map[String, Double] = Map.empty
  /** Bytes of user data an op of `kind` hands to the program (rows times
    * their in-memory width), for the write-amplification ratio. */
  def userBytes(kind: String): Long = 0L
}
