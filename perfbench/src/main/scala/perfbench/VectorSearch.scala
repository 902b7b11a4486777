package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Lance

/** Read-only vector search over an indexed corpus (RAG lookups).
  *
  * Corpus: `rows` float32 vectors of `dim` dimensions drawn around
  * `clusters` centres whose spreads overlap, plus an int `label`. Queries
  * sit between two centres, so an IVF probe of 2 of 8 partitions misses
  * some true neighbours and recall stays measurably below 1.0. The exact
  * top-10 of every query is computed here, in the bench, by brute force.
  */
final class VectorSearch(spark: SparkSession, seed: Long) extends Workload {
  val rows = 20000
  val dim = 32
  val clusters = 16
  val partitions = 8
  val nprobes = 2
  val k = 10
  val labels = 10
  val poolSize = 64
  val trainFraction = 0.2
  val efConstruction = 40

  private val rnd = new java.util.Random(seed)
  private def gauss(): Float = rnd.nextGaussian().toFloat
  private val centres = Array.fill(clusters, dim)(gauss())
  private val vecs: Array[Array[Float]] = Array.tabulate(rows) { _ =>
    val c = centres(rnd.nextInt(clusters))
    Array.tabulate(dim)(d => c(d) + gauss())
  }
  private val label: Array[Int] = Array.fill(rows)(rnd.nextInt(labels))
  private val queries: Array[Array[Float]] = Array.fill(poolSize) {
    val a = centres(rnd.nextInt(clusters)); val b = centres(rnd.nextInt(clusters))
    Array.tabulate(dim)(d => 0.5f * (a(d) + b(d)) + gauss())
  }
  private val queryLabel = Array.fill(poolSize)(rnd.nextInt(labels))
  /** Op i uses query `order(i % poolSize)`: a seeded walk over the pool. */
  private val order = {
    val a = (0 until poolSize).toArray
    val r = new java.util.Random(seed ^ 0x5eedL)
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  private def exactTop(q: Array[Float], keep: Int => Boolean): Set[Long] = {
    val best = mutable.PriorityQueue.empty[(Double, Int)] // max-heap on dist
    var i = 0
    while (i < rows) {
      if (keep(i)) {
        val v = vecs(i)
        var s = 0.0; var d = 0
        while (d < dim) { val x = v(d).toDouble - q(d).toDouble; s += x * x; d += 1 }
        if (best.size < k) best.enqueue((s, i))
        else if (s < best.head._1) { best.dequeue(); best.enqueue((s, i)) }
      }
      i += 1
    }
    best.iterator.map(_._2.toLong).toSet
  }
  private lazy val truth = queries.map(q => exactTop(q, _ => true))
  private lazy val truthFiltered = queries.indices.map(j =>
    exactTop(queries(j), i => label(i) == queryLabel(j))).toArray

  private var path = ""
  private val overlaps = mutable.ArrayBuffer.empty[Double]

  def setup(dir: String): Double = {
    path = s"$dir/corpus"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("label", IntegerType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
    val data = (0 until rows).map(i => Row(i.toLong, label(i), vecs(i)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 8), schema)
    Lance.write(Lance.withVectorDim(df, "vec", dim), path, "overwrite")
    val t0 = System.nanoTime()
    val ivf = Lance.buildIndex(spark, Lance.read(spark, path), "vec", "id", path,
      numPartitions = partitions, sampleFraction = trainFraction)
    require(ivf.success, s"IVF build failed: ${ivf.error}")
    val ivfS = (System.nanoTime() - t0) / 1e9
    val hnsw = Lance.buildHnswIndex(spark, path, "vec", efConstruction = efConstruction)
    require(hnsw.success, s"HNSW build failed: ${hnsw.error}")
    val total = (System.nanoTime() - t0) / 1e9
    builds = Map("index.ivf_build_ms" -> ivfS * 1e3,
      "index.hnsw_build_ms" -> (total - ivfS) * 1e3)
    truth; truthFiltered
    total
  }
  private var builds = Map.empty[String, Double]
  override def buildTimes: Map[String, Double] = builds

  /** More than half the ops (7 of 12) are unfiltered IVF probes. A
    * quarter are HNSW queries, the slowest kind, so that the read tail
    * (ten or more samples beyond it) falls among them rather than on the
    * edge between two kinds. */
  val schedule: IndexedSeq[String] = IndexedSeq(
    "ivf", "hnsw", "ivf", "ivf_filtered", "ivf", "hnsw", "ivf", "knn_exact",
    "ivf", "hnsw", "ivf", "ivf")
  val nominalCycleS = 3.3
  def warmup: Seq[String] = schedule
  def isWrite(kind: String) = false

  private def ids(rs: Array[Row]): Seq[Long] = rs.map(r => r.getAs[Long]("id")).toSeq

  private def ann(rs: Array[Row], want: Set[Long], labelOk: Long => Boolean): Boolean = {
    val got = ids(rs)
    overlaps += got.count(want.contains).toDouble / k
    got.size == k && got.distinct.size == k && got.forall(labelOk)
  }

  def run(r: Runner, kind: String, i: Int): Boolean = {
    val j = order(Math.floorMod(i, poolSize))
    val q = queries(j)
    kind match {
      case "ivf" =>
        ann(r.query("index.ivf_search")(
          Lance.annSearch(spark, path, "vec", q, k, nprobes)), truth(j), _ => true)
      case "ivf_filtered" =>
        val l = queryLabel(j)
        ann(r.query("index.ivf_filtered")(Lance.annSearch(spark, path, "vec", q,
          k, nprobes, filter = Some(col("label") === l))), truthFiltered(j),
          id => label(id.toInt) == l)
      case "hnsw" =>
        ann(r.query("index.hnsw_search")(
          Lance.annSearchHnsw(spark, path, "vec", q, k, nprobes)), truth(j), _ => true)
      case "knn_exact" =>
        val got = ids(r.query("functions.knn_exact")(
          Lance.knnSearch(Lance.read(spark, path), "vec", q, k)))
        got.toSet == truth(j) && got.size == k
    }
  }

  def verify(r: Runner): Unit = ()
  def recall: Double =
    if (overlaps.isEmpty) Double.NaN else overlaps.sum / overlaps.size
  def tableDirs: Seq[String] = Seq(path)
  def liveRows: Long = rows
}
