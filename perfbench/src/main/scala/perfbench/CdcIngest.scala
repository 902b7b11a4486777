package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Lance
import graft.operators.MaterializedView
import graft.operators.MaterializedView.AggSpec

/** One row of the append-only `chunks` table (an embedded document chunk). */
final case class Chunk(id: Long, doc: Long, cat: Int, value: Double, emb: Array[Float])
/** One row of the keyed `entities` table. */
final case class Entity(id: Long, value: Double, ver: Long)

/** Ingest with reads beside the writes (a RAG corpus kept fresh from CDC).
  *
  * `chunks` (10k rows) carries a scalar index on `doc`, an IVF index on its
  * 16-dim embedding and a per-`cat` aggregate materialized view; 1k-row
  * micro-batches reach it through the lance streaming sink with in-commit
  * index and view refresh. `entities` (10k rows, keyed on `id`) takes
  * 500-row upserts and 100-row range deletes. After every write, reads
  * check fresh rows through the scalar index, the view, or an ANN probe;
  * `optimize` compacts `chunks` once per schedule cycle.
  * The bench keeps a model of both tables and checks every answer and the
  * final state against it.
  */
final class CdcIngest(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  val initialChunks = 10000
  val initialEntities = 10000L
  val batch = 1000
  val upsertRows = 500
  val deleteRows = 100
  val dim = 16
  val cats = 8
  val docsPerBatch = 100
  val partitions = 8
  val indexBuckets = 8
  val trainFraction = 0.2
  val nprobes = 4
  val k = 10

  private var dir = ""
  private def chunks = s"$dir/chunks"
  private def entities = s"$dir/entities"
  private def view = s"$dir/chunks_by_cat"

  // ---- the bench-side model
  private val rnd = new java.util.Random(seed)
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]] // index = chunk id
  private val catCount = Array.fill(cats)(0L)
  private val catCents = Array.fill(cats)(0L)
  private val docIds = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
  private val ents = mutable.Map.empty[Long, Long] // id -> value in cents
  private var nextEntity = 0L
  private var nextDoc = 0L
  private var version = 0L
  private val overlaps = mutable.ArrayBuffer.empty[Double]

  private def newChunks(n: Int): Seq[Chunk] = Seq.fill(n) {
    val id = vecs.size.toLong
    val doc = nextDoc + rnd.nextInt(docsPerBatch)
    val cat = rnd.nextInt(cats)
    val cents = 100L + rnd.nextInt(100000)
    val centre = (id % 24).toFloat
    val v = Array.tabulate(dim)(d => ((d * 7 + centre.toInt) % 24) * 0.3f +
      rnd.nextGaussian().toFloat)
    vecs += v
    catCount(cat) += 1; catCents(cat) += cents
    docIds.getOrElseUpdate(doc, mutable.ArrayBuffer.empty) += id
    Chunk(id, doc, cat, cents / 100.0, v)
  }
  private def newEntities(ids: Seq[Long]): Seq[Entity] = ids.map { id =>
    version += 1
    val cents = rnd.nextInt(1000000).toLong
    ents(id) = cents
    Entity(id, cents / 100.0, version)
  }

  private var stream: Option[(MemoryStream[Chunk], StreamingQuery)] = None
  private var builds = Map.empty[String, Double]
  override def buildTimes: Map[String, Double] = builds

  def setup(d: String): Double = {
    dir = d
    Lance.write(Lance.withVectorDim(newChunks(initialChunks).toDF().repartition(4),
      "emb", dim), chunks, "overwrite")
    nextDoc += docsPerBatch
    Lance.write(newEntities(0L until initialEntities).toDF().repartition(4),
      entities, "overwrite")
    nextEntity = initialEntities
    val t0 = System.nanoTime()
    Lance.buildScalarIndex(spark, chunks, "doc", numBuckets = indexBuckets)
    val scalarS = (System.nanoTime() - t0) / 1e9
    val ivf = Lance.buildIndex(spark, Lance.read(spark, chunks), "emb", "id",
      chunks, numPartitions = partitions, sampleFraction = trainFraction)
    require(ivf.success, s"IVF build failed: ${ivf.error}")
    val indexS = (System.nanoTime() - t0) / 1e9
    builds = Map("index.scalar_build_ms" -> scalarS * 1e3,
      "index.ivf_build_ms" -> (indexS - scalarS) * 1e3)
    MaterializedView.create(spark, view, chunks, Seq("cat"),
      Seq(AggSpec("count", "*", "n"), AggSpec("sum", "value", "total")))
    val input = MemoryStream[Chunk](spark)
    val q = input.toDF().writeStream.format("lance")
      .option("checkpointLocation", s"$chunks-ckpt")
      .option("write.refresh-indexes", "all")
      .option("write.refresh-mvs", "true")
      .outputMode("append")
      .start(chunks)
    stream = Some((input, q))
    indexS
  }

  /** One cycle: 7 writes, of which 4 are epochs (more than half), then an
    * `upsert`, a `deleteWhere` and an `optimize` of `chunks`; 3 or 4
    * reads after every write, most of them scalar-index lookups of the
    * newest batch (26 reads). */
  val schedule: IndexedSeq[String] = IndexedSeq(
    "epoch", "read_lookup", "read_lookup", "read_mv", "read_lookup",
    "upsert", "read_lookup", "read_lookup", "read_lookup",
    "epoch", "read_lookup", "read_ann", "read_lookup", "read_lookup",
    "delete", "read_lookup", "read_mv", "read_lookup",
    "epoch", "read_lookup", "read_mv", "read_lookup", "read_ann",
    "epoch", "read_lookup", "read_lookup", "read_ann", "read_lookup",
    "optimize", "read_lookup", "read_mv", "read_lookup", "read_lookup")
  val nominalCycleS = 19.0
  /** The stream's first micro-batch is several times slower than later
    * ones; the reads after it get their code paths compiled too. */
  val warmup = Seq("epoch", "read_lookup", "read_mv", "read_ann")
  private val reads = Set("read_lookup", "read_mv", "read_ann")
  def isWrite(kind: String): Boolean = !reads.contains(kind)

  private var lastBatch = Seq.empty[Chunk]

  def run(r: Runner, kind: String, i: Int): Boolean = kind match {
    case "epoch" =>
      val (input, q) = stream.get
      lastBatch = newChunks(batch)
      nextDoc += docsPerBatch
      r.span("connector.stream_epoch") {
        input.addData(lastBatch)
        q.processAllAvailable()
      }
      q.exception.isEmpty
    case "upsert" =>
      // half updates of live keys, half inserts of new ones
      val live = ents.keysIterator.take(upsertRows * 4).toIndexedSeq
      val upd = Seq.fill(upsertRows / 2)(live(rnd.nextInt(live.size))).distinct
      val ins = nextEntity until nextEntity + (upsertRows - upd.size)
      nextEntity += ins.size
      val src = newEntities(upd ++ ins).toDF()
      val res = r.span("operators.merge")(
        Lance.upsert(spark, entities, src, Seq("id")))
      res.committedVersion.isDefined
    case "delete" =>
      val from = rnd.nextInt((nextEntity - deleteRows).toInt).toLong
      val gone = (from until from + deleteRows).filter(ents.contains)
      gone.foreach(ents.remove)
      val res = r.span("operators.delete")(Lance.deleteWhere(spark, entities,
        s"id >= $from AND id < ${from + deleteRows}"))
      res.rowsChanged == gone.size
    case "optimize" =>
      r.span("operators.optimize")(Lance.optimize(spark, chunks))
      true
    case "read_lookup" =>
      val doc = nextDoc - docsPerBatch + rnd.nextInt(docsPerBatch)
      val rows = r.query("connector.scan")(
        Lance.read(spark, chunks).filter(col("doc") === doc).select("id"))
      rows.map(_.getLong(0)).toSet == docIds.getOrElse(doc, Nil).toSet
    case "read_mv" =>
      val rows = r.query("operators.mv_read")(MaterializedView.read(spark, view)
        .select(col("cat"), col("n"), col("total").cast("double")))
      Check.sameRows(rows.toSeq, modelView)
    case "read_ann" =>
      val probe = lastBatch(rnd.nextInt(lastBatch.size))
      val rows = r.query("index.ivf_search")(Lance.annSearch(spark, chunks,
        "emb", probe.emb, k, nprobes).select("id"))
      val got = rows.map(_.getLong(0)).toSeq
      val want = exactTop(probe.emb)
      overlaps += got.count(want.contains).toDouble / k
      got.size == k && got.distinct.size == k && got.contains(probe.id)
  }

  private def modelView: Seq[Row] = (0 until cats).filter(catCount(_) > 0)
    .map(c => Row(c, catCount(c), catCents(c) / 100.0))

  private def exactTop(q: Array[Float]): Set[Long] =
    vecs.indices.map { i =>
      val v = vecs(i)
      var s = 0.0; var d = 0
      while (d < dim) { val x = v(d).toDouble - q(d).toDouble; s += x * x; d += 1 }
      (s, i.toLong)
    }.sortBy(_._1).take(k).map(_._2).toSet

  /** Final state: both tables against the model, and the view against a
    * from-scratch aggregate of `chunks`. A mismatch fails the last op that
    * wrote the table. */
  def verify(r: Runner): Unit = {
    stream.foreach(_._2.stop()); stream = None
    def lastWrite(kinds: String*): Option[Int] =
      r.ops.reverseIterator.find(o => kinds.contains(o.kind)).map(_.idx)
    val c = Lance.read(spark, chunks)
      .agg(count(lit(1)), sum(col("value").cast("decimal(18,2)"))).head()
    val chunksOk = c.getLong(0) == vecs.size &&
      c.getDecimal(1).movePointRight(2).longValueExact() == catCents.sum
    if (!chunksOk) lastWrite("epoch", "optimize").foreach(r.fail(_,
      s"chunks: ${c.getLong(0)} rows, want ${vecs.size}"))
    val e = Lance.read(spark, entities).select("id", "value").collect()
    val entOk = e.map(_.getLong(0)).toSet == ents.keySet &&
      e.length == ents.size &&
      e.map(x => math.round(x.getDouble(1) * 100)).sum == ents.values.sum
    if (!entOk) lastWrite("upsert", "delete").foreach(r.fail(_,
      s"entities: ${e.length} rows, want ${ents.size}"))
    val fresh = Lance.read(spark, chunks).groupBy("cat")
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)"))
        .cast("double").as("total")).collect().toSeq
    val mv = MaterializedView.read(spark, view)
      .select(col("cat"), col("n"), col("total").cast("double")).collect().toSeq
    if (!Check.sameRows(mv, fresh) || !Check.sameRows(fresh, modelView))
      lastWrite("epoch", "optimize").foreach(r.fail(_, "view differs from a fresh aggregate"))
  }

  def recall: Double =
    if (overlaps.isEmpty) Double.NaN else overlaps.sum / overlaps.size
  def tableDirs: Seq[String] = Seq(chunks, entities, view)
  def liveRows: Long = vecs.size.toLong + ents.size
  override def userBytes(kind: String): Long = kind match {
    case "epoch" => batch * (8L + 8 + 4 + 8 + 4L * dim)
    case "upsert" => upsertRows * (8L + 8 + 8)
    case _ => 0L
  }
}
