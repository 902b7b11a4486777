package graft.index

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** IVF_HNSW vector index — the reference's third index type
  * (`LanceIndexBuilder.java:134-170`: IVF_HNSW_PQ with `maxLevel`, `m`,
  * `efConstruction`; defaults 7/16/100 from `config/LanceOptions.java:
  * 168-190`).
  *
  * Spark-first shape: the IVF layer partitions the data exactly as
  * [[IvfIndex]] does (KMeans centroids → bucketed parquet sidecar), and a
  * navigable small-world graph is built *per bucket* inside one
  * `mapPartitions` task — the only genuinely imperative, random-access
  * piece — then persisted as an adjacency-list parquet next to the
  * buckets. Search probes `nprobes` buckets (directory-pruned scan), walks
  * each bucket's graph inside its task with an `ef`-bounded beam, and
  * merges per-bucket candidates with a global top-k. Each task holds one
  * bucket's vectors + graph — the same memory contract as the reference's
  * native per-partition HNSW.
  *
  * Determinism: insertion order is ascending id, levels come from a
  * splitmix-style hash of the id, and all distances are double
  * accumulations — identical graphs and results on every run.
  */
object HnswIndex {
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.HnswIndex")

  case class Params(m: Int = 16, maxLevel: Int = 7, efConstruction: Int = 100)

  def graphPath(datasetPath: String, column: String): String =
    s"${IvfIndex.indexPath(datasetPath, column)}/hnsw_graph"

  /** Rows of the graph sidecar: one node of a bucket's graph with its
    * neighbor ids per level. The writer emits it and every reader names
    * it ([[IvfIndex.readSidecar]]); `__ivf_part` last, the partition
    * column. */
  private[index] val GraphSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("level", IntegerType, nullable = false),
    StructField("neighbors", ArrayType(ArrayType(LongType)), nullable = false),
    StructField("__ivf_part", IntegerType, nullable = false)))

  /** The graphs of the probed buckets `ids` (the graph twin of
    * [[IvfIndex.probedBuckets]]). */
  private def probedGraphs(spark: SparkSession, datasetPath: String,
      column: String, meta: IvfIndex.IndexMeta, ids: Seq[Int]): DataFrame =
    IvfIndex.readSidecar(spark, graphPath(datasetPath, column), GraphSchema,
      Some(IvfIndex.presentParts(spark, datasetPath, column, meta, ids)))

  // ---- deterministic level assignment ----

  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4b7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Geometric level: P(level ≥ l) = (1/m)^l, capped at maxLevel. */
  def levelOf(id: Long, m: Int, maxLevel: Int): Int = {
    val u = (mix64(id) >>> 11).toDouble / (1L << 53).toDouble // [0, 1)
    val mL = 1.0 / math.log(m.toDouble)
    math.min(maxLevel, (-math.log1p(-u) * mL).toInt)
  }

  private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Pairwise "distance" for graph construction + traversal under the
    * index's scoring metric (reference delegates all three to its native
    * index, `LanceVectorSearch.java:274-285`): L2 ranks by squared
    * distance, cosine by 1 − cos, dot by −⟨a,b⟩ (not a metric, but greedy
    * NSW descent on −dot is the standard max-inner-product search shape).
    */
  private[index] def metricDist(metric: String): (Array[Float], Array[Float]) => Double =
    metric.toLowerCase match {
      case "l2" => sqDist
      case "cosine" => (a, b) => {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; na += x * x; nb += y * y; i += 1
        }
        if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
      }
      case "dot" => (a, b) => {
        var dot = 0.0; var i = 0
        while (i < a.length) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
        -dot
      }
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

  /** Rank distance → reported `_distance`: L2 traverses on the squared
    * distance but reports the root; cosine/dot report the rank value.
    */
  private def reportDist(metric: String, d: Double): Double =
    if (metric.equalsIgnoreCase("l2")) math.sqrt(d) else d

  // ---- in-memory graph build (one bucket, one task) ----

  /** Builds the layered graph for one bucket; returns (id, level,
    * neighbors-per-level) rows. `vecs` indexed by local ordinal.
    */
  private[index] def buildBucketGraph(ids: Array[Long], vecs: Array[Array[Float]],
      p: Params,
      dist: (Array[Float], Array[Float]) => Double): Iterator[(Long, Int, Seq[Seq[Long]])] = {
    val n = ids.length
    if (n == 0) return Iterator.empty
    val levels = Array.tabulate(n)(i => levelOf(ids(i), p.m, p.maxLevel))
    // adjacency(l)(i) = neighbor ordinals of i at level l
    val maxL = levels.max
    val adjacency = Array.fill(maxL + 1)(mutable.Map.empty[Int, mutable.ArrayBuffer[Int]])
    var entry = 0
    var entryLevel = levels(0)

    def searchLayer(q: Array[Float], ep: Seq[Int], ef: Int, level: Int): Seq[Int] = {
      val visited = mutable.Set[Int](ep: _*)
      // candidates: min-heap by distance; results: max-heap (worst first)
      val cand = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by[(Double, Int), Double](t => -t._1))
      val res = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by[(Double, Int), Double](_._1))
      ep.foreach { e => val d = dist(q, vecs(e)); cand.enqueue((d, e)); res.enqueue((d, e)) }
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        if (res.nonEmpty && dc > res.head._1 && res.size >= ef) { cand.clear() }
        else {
          adjacency(level).getOrElse(c, mutable.ArrayBuffer.empty).foreach { nb =>
            if (!visited.contains(nb)) {
              visited += nb
              val d = dist(q, vecs(nb))
              if (res.size < ef || d < res.head._1) {
                cand.enqueue((d, nb)); res.enqueue((d, nb))
                if (res.size > ef) res.dequeue()
              }
            }
          }
        }
      }
      val drained = Array.fill(res.size)(res.dequeue())
      drained.reverse.map(_._2).toSeq // closest first
    }

    def connect(level: Int, a: Int, b: Int, cap: Int): Unit = {
      val nbrs = adjacency(level).getOrElseUpdate(a, mutable.ArrayBuffer.empty)
      if (!nbrs.contains(b)) {
        nbrs += b
        if (nbrs.size > cap) {
          // prune to the `cap` closest (simple heuristic, deterministic)
          val pruned = nbrs.map(x => (dist(vecs(a), vecs(x)), x)).sorted.take(cap).map(_._2)
          nbrs.clear(); nbrs ++= pruned
        }
      }
    }

    // insert in ascending-ordinal (= ascending id) order; node 0 seeds
    var i = 1
    while (i < n) {
      val li = levels(i)
      val q = vecs(i)
      var ep = Seq(entry)
      var l = entryLevel
      while (l > li) { ep = searchLayer(q, ep, 1, l).take(1); l -= 1 }
      while (l >= 0) {
        val cap = if (l == 0) 2 * p.m else p.m
        val found = searchLayer(q, ep, p.efConstruction, l)
        found.take(p.m).foreach { nb => connect(l, i, nb, cap); connect(l, nb, i, cap) }
        ep = found
        l -= 1
      }
      if (li > entryLevel) { entry = i; entryLevel = li }
      i += 1
    }

    (0 until n).iterator.map { o =>
      val nbrsPerLevel = (0 to levels(o)).map(l =>
        adjacency(l).getOrElse(o, mutable.ArrayBuffer.empty).map(x => ids(x)).toSeq)
      (ids(o), levels(o), nbrsPerLevel)
    }
  }

  private def paramsPath(datasetPath: String, column: String): String =
    s"${IvfIndex.indexPath(datasetPath, column)}/hnsw_params.json"

  private def writeParams(spark: SparkSession, datasetPath: String,
      column: String, p: Params): Unit = {
    val path = new org.apache.hadoop.fs.Path(paramsPath(datasetPath, column))
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(path, true)
    try out.write(
      s"""{"m":${p.m},"maxLevel":${p.maxLevel},"efConstruction":${p.efConstruction}}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** Build params recorded at full-build time so incremental refresh can
    * never rebuild a bucket with different knobs than its siblings.
    * Defaults for graphs written before the file existed.
    */
  private[graft] def readParams(spark: SparkSession, datasetPath: String,
      column: String): Params = {
    val path = new org.apache.hadoop.fs.Path(paramsPath(datasetPath, column))
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) return Params()
    val in = fs.open(path)
    try {
      val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      def num(k: String): Int =
        s""""$k":(\\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
          .getOrElse(throw new IllegalStateException(s"bad hnsw_params.json: $txt"))
      Params(num("m"), num("maxLevel"), num("efConstruction"))
    } finally in.close()
  }

  /** Shared graph writer: all buckets (full build, plain overwrite) or a
    * selected subset (incremental refresh — DYNAMIC partition overwrite
    * replaces only the touched `__ivf_part=` directories, other buckets'
    * graph files are never rewritten or read).
    */
  private def writeGraph(spark: SparkSession, datasetPath: String, column: String,
      meta: IvfIndex.IndexMeta, params: Params, bucketIds: Option[Seq[Int]]): Unit = {
    // the graph is built under the index's scoring metric — a graph
    // optimized for L2 walks badly under cosine/dot and vice versa
    val dist = metricDist(meta.metric)
    // refresh passes the buckets that just received rows: each has a
    // directory, though the meta it loaded predates them
    val buckets = IvfIndex
      .readSidecar(spark, IvfIndex.bucketsPath(datasetPath, column), meta.bucketStruct, bucketIds)
      .select(col(meta.idColumn).cast("long").as(meta.idColumn),
        col(meta.column).cast("array<float>").as("__v"),
        col("__ivf_part"))
      .repartition(math.max(bucketIds.map(_.size).getOrElse(meta.numPartitions), 1),
        col("__ivf_part"))
    val graph = buckets.mapPartitions { rows =>
      // a task may hold several hash-colliding buckets: group, then build
      val byBucket = mutable.Map.empty[Int, (mutable.ArrayBuffer[Long], mutable.ArrayBuffer[Array[Float]])]
      rows.foreach { r =>
        val b = r.getInt(2)
        val (ids, vs) = byBucket.getOrElseUpdate(b,
          (mutable.ArrayBuffer.empty[Long], mutable.ArrayBuffer.empty[Array[Float]]))
        ids += r.getLong(0)
        vs += r.getSeq[Float](1).toArray
      }
      byBucket.iterator.flatMap { case (b, (idsB, vecsB)) =>
        val order = idsB.indices.sortBy(idsB) // deterministic insertion order
        val ids = order.map(idsB).toArray
        val vecs = order.map(vecsB).toArray
        buildBucketGraph(ids, vecs, params, dist).map { case (id, level, nbrs) =>
          Row(id, level, nbrs, b)
        }
      }
    }(org.apache.spark.sql.Encoders.row(GraphSchema))
    val writer = graph.write.mode("overwrite").partitionBy("__ivf_part")
    bucketIds.fold(writer)(_ => writer.option("partitionOverwriteMode", "dynamic"))
      .parquet(graphPath(datasetPath, column))
  }

  /** Build the graph sidecar. Requires the IVF buckets to exist (build via
    * [[IvfIndex.build]] first); one task per bucket builds that bucket's
    * graph — build cost parallelizes over buckets, the unit the reference
    * also uses.
    */
  def build(spark: SparkSession, datasetPath: String, column: String,
      params: Params = Params()): IvfIndex.IndexBuildResult = {
    val t0 = System.currentTimeMillis()
    try {
      val meta = IvfIndex.loadMeta(spark, datasetPath, column)
      writeGraph(spark, datasetPath, column, meta, params, bucketIds = None)
      writeParams(spark, datasetPath, column, params)
      IvfIndex.IndexBuildResult(success = true,
        System.currentTimeMillis() - t0, meta.numPartitions)
    } catch {
      case e: Exception => IvfIndex.IndexBuildResult(success = false,
        System.currentTimeMillis() - t0, -1, Some(e.getMessage))
    }
  }

  /** Incremental graph maintenance: rebuild ONLY `bucketIds`' graphs
    * (buckets that received appended rows), leaving every other bucket's
    * graph files untouched on disk. Per-bucket graphs are independent —
    * no cross-bucket edges — so this is exact, not an approximation: at
    * 100 TB a refresh re-walks only the appended day's buckets instead
    * of the whole index. Called by [[IvfIndex.refresh]].
    */
  def refreshBuckets(spark: SparkSession, datasetPath: String, column: String,
      bucketIds: Seq[Int]): IvfIndex.IndexBuildResult = {
    val t0 = System.currentTimeMillis()
    try {
      val meta = IvfIndex.loadMeta(spark, datasetPath, column)
      val params = readParams(spark, datasetPath, column)
      writeGraph(spark, datasetPath, column, meta, params, Some(bucketIds))
      IvfIndex.IndexBuildResult(success = true,
        System.currentTimeMillis() - t0, bucketIds.size)
    } catch {
      case e: Exception => IvfIndex.IndexBuildResult(success = false,
        System.currentTimeMillis() - t0, -1, Some(e.getMessage))
    }
  }

  /** Estimated task-memory warnings for probed buckets: graph search
    * materializes one bucket's vectors + adjacency in a single task (the
    * same O(bucket) contract as the reference's native per-partition
    * HNSW), and bucket size is user-controlled via `numPartitions` — so
    * warn loudly BEFORE a lopsided bucket blows an executor, pointing at
    * the fix. Pure function of the meta's recorded bucket row counts
    * (absent on pre-guard indexes → no warnings, prior behavior).
    */
  private[graft] def oversizedBucketWarnings(meta: IvfIndex.IndexMeta,
      probes: Seq[Int], maxBytes: Long): Seq[String] =
    meta.bucketRows.toSeq.flatMap { br =>
      probes.flatMap { p =>
        br.get(p.toString).collect {
          case rows if rows * meta.dim.toLong * 4L > maxBytes =>
            s"probed bucket $p holds $rows rows x dim ${meta.dim} " +
              s"(~${rows * meta.dim.toLong * 4L / (1L << 20)} MiB of vectors) " +
              s"in ONE graph-search task, over spark.graft.vector.maxBucketBytes " +
              s"($maxBytes); rebuild the index with a larger numPartitions " +
              "(sqrt(n)..4*sqrt(n) buckets)"
        }
      }
    }

  private def warnOversized(spark: SparkSession, meta: IvfIndex.IndexMeta,
      probes: Seq[Int]): Unit = {
    val maxBytes = spark.conf.getOption("spark.graft.vector.maxBucketBytes")
      .map(_.toLong).getOrElse(2L << 30)
    oversizedBucketWarnings(meta, probes, maxBytes).foreach(log.warn(_))
  }

  /** Shared search tail: unfiltered searches return the lazy top-k plan;
    * filtered searches run it, and on shortfall widen geometrically —
    * LOUDLY — first the beam (until it covers the probed buckets), then
    * the PROBE SET (until the whole index is probed, the same escalation
    * as filtered IVF search). The filtered walk traverses non-matching
    * nodes but only matching ones count as results (the standard
    * filtered-HNSW composition, reference semantics
    * `LanceVectorSearch.java:170-174`), so a selective filter needs a
    * wider beam — never silently fewer results.
    *
    * `candidates(nProbes, ef)` must build the per-bucket walk over the
    * `nProbes` best-ranked buckets; `bucketsFor(nProbes)` the raw probed
    * rows (for match/size counts on the shortfall path only).
    */
  private def finishSearch(spark: SparkSession, what: String, k: Int, ef: Int,
      numPartitions: Int, probes0: Int, bucketsFor: Int => DataFrame,
      filter: Option[org.apache.spark.sql.Column],
      idCol: String, candidates: (Int, Int) => DataFrame): DataFrame = {
    def topK(n: Int, e: Int) =
      candidates(n, e).orderBy(col("_distance"), col(idCol)).limit(k)
    filter match {
      case None => topK(probes0, ef)
      case Some(_) =>
        var used = probes0
        var curEf = ef
        var probedRows = -1L // lazily counted, re-counted when `used` grows
        val first = topK(used, curEf) // its schema is every widening's
        var rows = first.take(k)
        while (rows.length < k && {
          if (probedRows < 0) probedRows = bucketsFor(used).count()
          curEf < probedRows * 2 || used < numPartitions
        }) {
          if (curEf < probedRows * 2) {
            curEf *= 2
            log.warn(s"filtered graph search $what: only ${rows.length} of k=$k " +
              s"results match the filter at ef=${curEf / 2}; widening beam to ef=$curEf")
          } else {
            used = math.min(used * 2, numPartitions)
            probedRows = -1L
            log.warn(s"filtered graph search $what: the beam covers the probed " +
              s"buckets but only ${rows.length} of k=$k results match; widening " +
              s"to $used probed buckets")
          }
          rows = topK(used, curEf).take(k)
        }
        if (rows.length < k)
          log.warn(s"filtered graph search $what: the entire index holds only " +
            s"${rows.length} reachable rows matching the filter (k=$k)")
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), first.schema)
    }
  }

  /** ANN search: probe the `nprobes` nearest buckets; each probed bucket's
    * task walks its graph (greedy descent + ef beam at level 0) and emits
    * its best candidates; a global top-k merges them. Reference search
    * params `vector.ef` (default 100) and `vector.nprobes` (default 20),
    * `config/LanceOptions.java:215-228`. `filter` composes with the walk
    * (evaluate-during-beam with loud widening — see [[finishSearch]]),
    * matching the reference's filter-with-any-index semantics
    * (`LanceVectorSearch.java:170-174`).
    *
    * Float64 corpora: graph NODES hold float32 vectors (half the walk
    * memory; the graph is an approximation structure by definition), so
    * the walk and the reported `_distance` quantize sub-float32 detail
    * — the documented posture for a GRAPH index over doubles. Exact
    * double distances ride the FLAT scan ([[IvfIndex.search]]), the
    * PQ path's exact refine ([[IvfIndex.searchPq]], v46), or the
    * opt-in [[searchRerankDouble]] (v47), which re-ranks this walk's
    * candidate pool on the raw double column at read time.
    */
  def search(spark: SparkSession, datasetPath: String, column: String,
      query: Array[Float], k: Int, nprobes: Int = 20, ef: Int = 100,
      metric: Option[String] = None,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    graft.functions.VectorFunctions.validateQueryVector(query)
    val meta = IvfIndex.loadMeta(spark, datasetPath, column)
    // the caller's metric must be the one the graph was built under — a
    // graph optimized for one metric walks blind under another
    metric.foreach(m => require(m.equalsIgnoreCase(meta.metric),
      s"index at $datasetPath/$column was built for metric ${meta.metric}, " +
        s"searched with $m — rebuild the index or search with ${meta.metric}"))
    IvfIndex.checkFreshness(spark, datasetPath, meta)
    require(query.length == meta.dim,
      s"query dim ${query.length} != index dim ${meta.dim}")
    val qd = query.map(_.toDouble)
    // probe selection under the SCORING metric (the cosine-nearest
    // centroid is not generally the L2-nearest one)
    val rankedAll = meta.centroids.zipWithIndex
      .map { case (c, i) => (IvfIndex.centroidDist(qd, c.toArray, meta.metric), i) }
      .sortBy(_._1).map(_._2)
    val probes0 = math.min(nprobes, meta.numPartitions)
    warnOversized(spark, meta, rankedAll.take(probes0))

    def bucketsFor(n: Int): DataFrame =
      IvfIndex.probedBuckets(spark, datasetPath, column, meta, rankedAll.take(n))
    val keepCol = filter.map(f => coalesce(f.cast("boolean"), lit(false)))
      .getOrElse(lit(true))
    val bcQ = spark.sparkContext.broadcast(query)
    // result id keeps the dataset's own id column name (TVF/API parity
    // with IvfIndex.search, which preserves original columns)
    val idCol = meta.idColumn
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("_distance", DoubleType, nullable = false)))
    val scoringMetric = meta.metric
    def candidates(n: Int, effEf: Int): DataFrame = {
      val vecs = bucketsFor(n)
        .select(col("__ivf_part"), col(meta.idColumn).cast("long").as("id"),
          col(meta.column).cast("array<float>").as("__v"), keepCol.as("__keep"))
      val graph = probedGraphs(spark, datasetPath, column, meta, rankedAll.take(n))
        .select(col("__ivf_part"), col("id"), col("level"), col("neighbors"))
      val joined = vecs.join(graph, Seq("__ivf_part", "id"))
        .repartition(math.max(n, 1), col("__ivf_part"))
      joined.mapPartitions { rows =>
        val q = bcQ.value
        val dist = metricDist(scoringMetric)
        val byBucket = groupBuckets(rows, withCodes = false)
        byBucket.iterator.flatMap { case (_, nodes) =>
          val arr = nodes.toArray
          val vecs = arr.map(_.vec)
          searchBucket(arr, o => dist(q, vecs(o)), effEf)
            .map { case (o, d) => (arr(o).id, d) }
        }.map { case (id, d) => Row(id, reportDist(scoringMetric, d)) }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    }
    finishSearch(spark, s"$datasetPath/$column", k, math.max(ef, k),
      meta.numPartitions, probes0, bucketsFor, filter, idCol, candidates)
  }

  /** HNSW + EXACT-double re-rank (opt-in, round 14): the graph walks
    * float32 nodes (the memory posture [[search]] documents), then the
    * candidate POOL — the walk's top max(ef, k), not just k, so a
    * float32 near-tie inversion below rank k cannot hide a true
    * neighbor — re-ranks on the RAW float64 column at read time and the
    * exact top-k OF THE POOL returns. The quantization gap closes
    * STRUCTURALLY (no float32 math ranks the output); full-corpus
    * exactness is the walk's recall, as for any graph index — with full
    * probing and ample ef the gated corpora match the brute-force
    * double KNN bit-for-bit (v47, the v41/v46 oracle), and the
    * recall-floor gate (v45) bounds the general case. Cost: one graph
    * search + one id-pruned read of ≤ max(ef,k)
    * rows — search-parameter bounded, never data bounded; the id
    * predicate pushes into the scan (stats/bloom/postings prune).
    * Shortfall/ef-widening stay loud: the inner walk runs with
    * k = pool, so the filtered-search guards fire exactly as before. */
  def searchRerankDouble(spark: SparkSession, datasetPath: String,
      column: String, query: Array[Double], k: Int, nprobes: Int = 20,
      ef: Int = 100, metric: Option[String] = None,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val meta = IvfIndex.loadMeta(spark, datasetPath, column)
    val idCol = meta.idColumn
    val pool = math.max(ef, k)
    val cand = search(spark, datasetPath, column, query.map(_.toFloat),
      pool, nprobes, ef, metric, filter)
    // pool-bounded driver fetch (≤ max(ef,k) ids — the knnSearch
    // query-vector-collect posture, never proportional to the corpus)
    val ids = cand.select(col(idCol).cast("long")).collect()
      .map(_.getLong(0)).toSeq
    if (ids.isEmpty) return cand.limit(0)
    import graft.functions.VectorFunctions._
    // the override metric (if any) drove the walk above — the rerank
    // must score with the SAME metric or the two phases rank different
    // geometries
    val dist = metric.getOrElse(meta.metric).toLowerCase match {
      case "l2" => l2_distance(col(column), lit(query))
      case "cosine" => cosine_distance(col(column), lit(query))
      case "dot" => -dot_product(col(column), lit(query))
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }
    // raw vectors come from the buckets sidecar — it stores the column
    // at its ORIGINAL type (search casts to float32 for the walk; this
    // path deliberately doesn't), and it exists even for index-only
    // destinations built straight from a DataFrame
    IvfIndex.readSidecar(spark, IvfIndex.bucketsPath(datasetPath, column),
      meta.bucketStruct, None)
      .filter(col(idCol).isin(ids: _*))
      .withColumn("_distance", dist)
      .select(col(idCol).cast("long").as(idCol), col("_distance"))
      .orderBy(col("_distance"), col(idCol))
      .limit(k)
  }

  /** IVF_HNSW_PQ search (the reference's composite index type,
    * `LanceIndexBuilder.java:134-152`): the graph walk scores nodes with
    * the asymmetric-distance table over their PQ codes — no vector math
    * per visited node — then the ef survivors are re-ranked exactly on the
    * raw vectors under the index's metric and the global top-k merges
    * buckets. Serves all three metrics ([[IvfIndex.adcTable]] documents
    * how cosine/dot decompose). Requires the IVF index built with PQ
    * ([[IvfIndex.build]] `pq = Some(...)`) plus [[build]] for the graph.
    */
  def searchPq(spark: SparkSession, datasetPath: String, column: String,
      query: Array[Float], k: Int, nprobes: Int = 20, ef: Int = 100,
      filter: Option[org.apache.spark.sql.Column] = None,
      metric: Option[String] = None): DataFrame = {
    graft.functions.VectorFunctions.validateQueryVector(query)
    val meta = IvfIndex.loadMeta(spark, datasetPath, column)
    metric.foreach(m => require(m.equalsIgnoreCase(meta.metric),
      s"index at $datasetPath/$column was built for metric ${meta.metric}, " +
        s"searched with $m — rebuild the index or search with ${meta.metric}"))
    IvfIndex.checkFreshness(spark, datasetPath, meta)
    val pm = meta.pq.getOrElse(throw new IllegalStateException(
      s"index for $column was built without PQ"))
    require(query.length == meta.dim,
      s"query dim ${query.length} != index dim ${meta.dim}")
    val qd = query.map(_.toDouble)
    val rankedAll = meta.centroids.zipWithIndex
      .map { case (c, i) => (IvfIndex.centroidDist(qd, c.toArray, meta.metric), i) }
      .sortBy(_._1).map(_._2)
    val probes0 = math.min(nprobes, meta.numPartitions)
    warnOversized(spark, meta, rankedAll.take(probes0))

    val adc = IvfIndex.adcTable(meta, pm, qd)
    val kCodes = 1 << pm.numBits

    def bucketsFor(n: Int): DataFrame =
      IvfIndex.probedBuckets(spark, datasetPath, column, meta, rankedAll.take(n))
    val keepCol = filter.map(f => coalesce(f.cast("boolean"), lit(false)))
      .getOrElse(lit(true))
    val bcQ = spark.sparkContext.broadcast(query)
    val bcAdc = spark.sparkContext.broadcast(adc)
    val idCol = meta.idColumn
    val outSchema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("_distance", DoubleType, nullable = false)))
    val scoringMetric = meta.metric
    def candidates(n: Int, effEf: Int): DataFrame = {
      val vecs = bucketsFor(n)
        .select(col("__ivf_part"), col(meta.idColumn).cast("long").as("id"),
          col(meta.column).cast("array<float>").as("__v"), keepCol.as("__keep"),
          col("__pq_code"))
      val graph = probedGraphs(spark, datasetPath, column, meta, rankedAll.take(n))
        .select(col("__ivf_part"), col("id"), col("level"), col("neighbors"))
      val joined = vecs.join(graph, Seq("__ivf_part", "id"))
        .repartition(math.max(n, 1), col("__ivf_part"))
      joined.mapPartitions { rows =>
        val q = bcQ.value
        val table = bcAdc.value
        val exact = metricDist(scoringMetric)
        val byBucket = groupBuckets(rows, withCodes = true)
        byBucket.iterator.flatMap { case (_, nodes) =>
          val arr = nodes.toArray
          def adcDist(o: Int): Double = {
            val codes = arr(o).codes
            var acc = 0.0; var j = 0
            while (j < codes.length) { acc += table(j * kCodes + codes(j)); j += 1 }
            acc
          }
          // traverse on ADC, refine the ef survivors exactly
          searchBucket(arr, adcDist, effEf)
            .map { case (o, _) => (arr(o).id, exact(q, arr(o).vec)) }
        }.map { case (id, d) => Row(id, reportDist(scoringMetric, d)) }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    }
    finishSearch(spark, s"$datasetPath/$column (pq)", k, math.max(ef, k),
      meta.numPartitions, probes0, bucketsFor, filter, idCol, candidates)
  }

  private[index] case class BucketNode(id: Long, vec: Array[Float],
    codes: Array[Int], level: Int, nbrs: Seq[Seq[Long]], keep: Boolean = true)

  /** Rows → per-bucket node lists. Row layout: (__ivf_part, id, __v,
    * __keep[, __pq_code], level, neighbors).
    */
  private def groupBuckets(rows: Iterator[Row], withCodes: Boolean)
      : mutable.Map[Int, mutable.ArrayBuffer[BucketNode]] = {
    val byBucket = mutable.Map.empty[Int, mutable.ArrayBuffer[BucketNode]]
    val levelIdx = if (withCodes) 5 else 4
    rows.foreach { r =>
      byBucket.getOrElseUpdate(r.getInt(0), mutable.ArrayBuffer.empty) +=
        BucketNode(r.getLong(1), r.getSeq[Float](2).toArray,
          if (withCodes) r.getSeq[Int](4).toArray else null,
          r.getInt(levelIdx),
          // nested parquet arrays deserialize as mutable.ArraySeq — type
          // the element as collection.Seq before converting
          r.getSeq[scala.collection.Seq[Long]](levelIdx + 1).map(_.toSeq).toSeq,
          keep = r.getBoolean(3))
    }
    byBucket
  }

  /** Walk one bucket's graph under `dist` (ordinal → distance); returns up
    * to ef (ordinal, dist) candidates. Nodes with `keep = false` (a
    * pre-filter miss) are traversed — they keep the graph connected — but
    * never enter the result set: the standard filtered-HNSW composition.
    */
  private[index] def searchBucket(nodes: Array[BucketNode], dist: Int => Double,
      ef: Int): Iterator[(Int, Double)] = {
    if (nodes.isEmpty) return Iterator.empty
    val ordinal = nodes.iterator.map(_.id).zipWithIndex.toMap
    val levels = nodes.map(_.level)
    // neighbors(l)(i): ordinals at level l
    val maxL = levels.max
    val adjacency = Array.tabulate(maxL + 1) { l =>
      nodes.map { n =>
        if (l <= n.level && l < n.nbrs.size) n.nbrs(l).flatMap(ordinal.get).toArray
        else Array.empty[Int]
      }
    }
    var entry = levels.indexOf(maxL)
    def greedyStep(level: Int, start: Int): Int = {
      var cur = start
      var curD = dist(cur)
      var improved = true
      while (improved) {
        improved = false
        adjacency(level)(cur).foreach { nb =>
          val d = dist(nb)
          if (d < curD) { curD = d; cur = nb; improved = true }
        }
      }
      cur
    }
    var l = maxL
    while (l > 0) { entry = greedyStep(l, entry); l -= 1 }
    // ef beam at level 0
    val visited = mutable.Set(entry)
    val cand = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by[(Double, Int), Double](t => -t._1))
    val res = mutable.PriorityQueue.empty[(Double, Int)](Ordering.by[(Double, Int), Double](_._1))
    val d0 = dist(entry)
    cand.enqueue((d0, entry))
    if (nodes(entry).keep) res.enqueue((d0, entry))
    while (cand.nonEmpty) {
      val (dc, c) = cand.dequeue()
      if (res.size >= ef && dc > res.head._1) cand.clear()
      else adjacency(0)(c).foreach { nb =>
        if (!visited.contains(nb)) {
          visited += nb
          val d = dist(nb)
          if (res.size < ef || d < res.head._1) {
            cand.enqueue((d, nb))
            if (nodes(nb).keep) {
              res.enqueue((d, nb))
              if (res.size > ef) res.dequeue()
            }
          }
        }
      }
    }
    Array.fill(res.size)(res.dequeue()).iterator
      .map { case (d, o) => (o, d) }
  }
}
