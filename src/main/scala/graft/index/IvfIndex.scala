package graft.index

import graft.functions.VectorFunctions._
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.json4s.NoTypeHints
import org.json4s.jackson.Serialization

import java.nio.charset.StandardCharsets

/** IVF (inverted-file) vector index — the Spark-native re-expression of the
  * reference's index builder + ANN search (`LanceIndexBuilder.java:99-205`,
  * `LanceVectorSearch` with `nprobes`, SURVEY §2.4 V8/V9).
  *
  * Build: KMeans (spark.ml, seeded) trains `numPartitions` centroids on a
  * sample; one distributed pass assigns every vector to its nearest
  * centroid and writes the dataset bucketed by `__ivf_part` as a
  * directory-partitioned Parquet sidecar under `<dataset>_indices/`.
  *
  * Search: the query is assigned to its `nprobes` nearest centroids on the
  * driver (centroids are tiny); the scan lists only those `__ivf_part=N`
  * bucket directories, under the bucket schema stamped in `index.json`
  * (no schema-inference job per query), and carries the partition filter
  * `__ivf_part IN (...)` — `PartitionFilters` in the plan, so a 100 TB
  * index probes only `nprobes/numPartitions` of the data. Within probed
  * buckets the distance is exact (IVF_FLAT); top-k via
  * TakeOrderedAndProject.
  *
  * With `nprobes = numPartitions` results equal exact brute-force KNN.
  */
object IvfIndex {
  private implicit val fmts: org.json4s.Formats = Serialization.formats(NoTypeHints)
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.IvfIndex")

  /** Bumped whenever the on-disk layout or bucket-assignment function
    * changes incompatibly. v2 = cosine buckets are assigned on L2-NORMALIZED
    * vectors (unit-sphere Voronoi); a cosine index.json without this stamp
    * predates normalized assignment, and probing it with the normalized
    * ranking would silently disagree with its stored buckets — loadMeta
    * requires a rebuild instead.
    */
  val CurrentFormatVersion = 2

  /** `bucketRows` (string-keyed for JSON stability: bucket id → row count)
    * feeds the oversized-bucket guard in [[HnswIndex]] — graph search
    * materializes one bucket per task, and the guard warns before a
    * lopsided bucket blows a task's memory. Its keys are also the buckets
    * that have a directory: a probe skips the others instead of listing a
    * missing path. Absent on indexes built before the field existed (no
    * guard; a probe lists the sidecar root once to find the directories).
    *
    * `bucketSchema` is the Spark schema (JSON) of the bucket sidecar as
    * build wrote it, `__ivf_part` last as the partition column; every
    * sidecar read names it instead of inferring it. Refresh carries it
    * over unchanged. An `index.json` written before the field existed is
    * inferred once by [[loadMeta]] and kept in the cached meta.
    */
  case class IndexMeta(column: String, idColumn: String, metric: String,
    numPartitions: Int, dim: Int, centroids: Seq[Seq[Double]],
    pq: Option[PqMeta] = None,
    datasetVersion: Option[Long] = None,
    formatVersion: Option[Int] = None,
    bucketRows: Option[Map[String, Long]] = None,
    bucketSchema: Option[String] = None) {
    /** [[bucketSchema]] parsed; every meta [[loadMeta]] returns has it. */
    private[graft] def bucketStruct: StructType =
      DataType.fromJson(bucketSchema.getOrElse(throw new IllegalStateException(
        s"index over $column carries no bucket schema"))).asInstanceOf[StructType]
  }

  /** Product-quantization codebooks: codebooks(j)(c) is the `c`-th centroid
    * of subspace `j` (dim/numSubVectors floats each). Reference defaults:
    * 16 sub-vectors, 8 bits (`config/LanceOptions.java:150-163`).
    *
    * `normalized = Some(true)` means codebooks were trained on — and codes
    * encode — L2-NORMALIZED vectors (how cosine indexes build: on the unit
    * sphere squared-L2 is 2·(1−cos), so the ADC table built from the
    * normalized query ranks by cosine). A cosine search over raw-encoded
    * codes would silently mis-rank, so searchPq requires the flag.
    */
  case class PqMeta(numSubVectors: Int, numBits: Int,
    codebooks: Seq[Seq[Seq[Double]]],
    normalized: Option[Boolean] = None)

  case class PqParams(numSubVectors: Int = 16, numBits: Int = 8)

  /** Parity with reference IndexBuildResult (`LanceIndexBuilder.java:380-435`). */
  case class IndexBuildResult(success: Boolean, durationMillis: Long,
    numPartitions: Int, error: Option[String] = None)

  def indexPath(datasetPath: String, column: String): String =
    s"$datasetPath/_indices/${column}_ivf"

  private[index] def bucketsPath(datasetPath: String, column: String): String =
    s"${indexPath(datasetPath, column)}/buckets"

  /** The one reader of the index's directory-partitioned parquet sidecars
    * (the IVF buckets and the HNSW graph). The schema is named, never
    * inferred, so a read runs no schema-inference job. `parts = None`
    * reads the whole sidecar; `Some(ids)` lists only those `__ivf_part=N`
    * directories — each must exist ([[presentParts]]) — and keeps the
    * `__ivf_part IN (...)` filter, so plans still show it among the
    * `PartitionFilters`. `schema` must hold `__ivf_part` last, where a
    * partitioned read puts it.
    */
  private[index] def readSidecar(spark: SparkSession, dir: String, schema: StructType,
      parts: Option[Seq[Int]]): DataFrame = parts match {
    case None => spark.read.schema(schema).parquet(dir)
    case Some(ids) if ids.isEmpty =>
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    case Some(ids) =>
      spark.read.schema(schema).option("basePath", dir)
        .parquet(ids.map(p => s"$dir/__ivf_part=$p"): _*)
        .filter(col("__ivf_part").isin(ids: _*))
  }

  /** The rows of the probed buckets `ids` — the bucket read of every
    * single-query probe (IVF and HNSW). */
  private[index] def probedBuckets(spark: SparkSession, datasetPath: String,
      column: String, meta: IndexMeta, ids: Seq[Int]): DataFrame =
    readSidecar(spark, bucketsPath(datasetPath, column), meta.bucketStruct,
      Some(presentParts(spark, datasetPath, column, meta, ids)))

  /** The buckets among `ids` that have a directory, in `ids`' order: no
    * row was assigned to a bucket without one. Decided from
    * [[IndexMeta.bucketRows]]; an index without that field costs one
    * listing of the sidecar root.
    */
  private[index] def presentParts(spark: SparkSession, datasetPath: String,
      column: String, meta: IndexMeta, ids: Seq[Int]): Seq[Int] = {
    val present = meta.bucketRows.map(_.keySet).getOrElse {
      val bp = new Path(bucketsPath(datasetPath, column))
      bucketDirs(bp.getFileSystem(spark.sessionState.newHadoopConf()), bp).keySet
    }
    ids.filter(i => present(i.toString))
  }

  /** Bucket id → its `__ivf_part=` directory under the sidecar root `bp`:
    * one listing. */
  private def bucketDirs(fs: org.apache.hadoop.fs.FileSystem, bp: Path): Map[String, Path] =
    fs.listStatus(bp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__ivf_part="))
      .map(d => d.getPath.getName.stripPrefix("__ivf_part=") -> d.getPath).toMap

  /** Bucket id → its `part-` files: one listing of the sidecar root plus
    * one per bucket directory. Build and refresh both count rows from this
    * listing ([[footerRowCounts]]).
    */
  private def bucketFiles(fs: org.apache.hadoop.fs.FileSystem,
      bp: Path): Map[String, Seq[Path]] =
    bucketDirs(fs, bp).map { case (part, d) =>
      part -> fs.listStatus(d).toSeq
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .map(_.getPath)
    }

  /** Per-bucket row counts of `files` ((bucket, file) pairs) from their
    * parquet footers. The footers are read in bounded parallel (guide §5):
    * a serial per-file loop serialized the driver on part-file count.
    */
  private def footerRowCounts(conf: org.apache.hadoop.conf.Configuration,
      files: Seq[(String, Path)]): Map[String, Long] = {
    val rows = graft.format.DriverPar.parMap(files) { case (_, p) =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }
    files.map(_._1).zip(rows).groupBy(_._1).map { case (part, xs) =>
      part -> xs.map(_._2).sum
    }
  }

  private def sq(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  private[index] def normalized(v: Array[Double]): Array[Double] = {
    var n2 = 0.0; var i = 0
    while (i < v.length) { n2 += v(i) * v(i); i += 1 }
    val n = math.sqrt(n2)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Driver-side query→centroid distance under the scoring metric.
    *
    * Cosine runs squared-L2 on the NORMALIZED query because that is
    * exactly the function bucket assignment ran at build time (vectors are
    * L2-normalized before KMeans for cosine indexes — unit-sphere Voronoi).
    * Ranking centroids by 1−cos instead would disagree with assignment
    * whenever centroid norms differ (1 + ‖c‖² − 2‖c‖cosθ vs cosθ alone),
    * and partial-probe searches would systematically miss the bucket that
    * actually holds the neighbors.
    *
    * Dot is not a metric; ranking buckets by −⟨q,c⟩ against L2-assigned
    * buckets is the standard MIPS approximation and is documented as such —
    * full probing remains exact.
    */
  private[graft] def centroidDist(q: Array[Double], c: Array[Double], metric: String): Double =
    metric.toLowerCase match {
      case "l2" => sq(q, c)
      case "cosine" => sq(normalized(q), c)
      case "dot" =>
        var dot = 0.0; var i = 0
        while (i < q.length) { dot += q(i) * c(i); i += 1 }
        -dot
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

  /** Nearest-centroid assignment UDF over the (broadcast) centroids —
    * shared by the initial build and the incremental refresh so the two
    * paths can never assign differently.
    */
  private def assignUdf(bc: Broadcast[Array[Array[Double]]],
      normalize: Boolean): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Float]) =>
      var arr = new Array[Double](v.length)
      var i = 0; while (i < v.length) { arr(i) = v(i).toDouble; i += 1 }
      if (normalize) arr = normalized(arr)
      val cs = bc.value
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cs.length) {
        val d = sq(arr, cs(c)); if (d < bestD) { bestD = d; best = c }; c += 1
      }
      best
    }

  /** PQ code-assignment UDF over the (broadcast) codebooks — shared by
    * build and refresh for the same reason. `normalize` must match how the
    * codebooks were trained ([[PqMeta.normalized]]).
    */
  private def encodeUdf(bcCb: Broadcast[Array[Array[Array[Double]]]],
      dsub: Int, normalize: Boolean): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (v: Seq[Float]) =>
      val cbs = bcCb.value
      var arr = new Array[Double](v.length)
      var x = 0; while (x < v.length) { arr(x) = v(x).toDouble; x += 1 }
      if (normalize) arr = normalized(arr)
      Array.tabulate(cbs.length) { j =>
        val off = j * dsub
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cbs(j).length) {
          var acc = 0.0; var i = 0
          while (i < dsub) {
            val d = arr(off + i) - cbs(j)(c)(i); acc += d * d; i += 1
          }
          if (acc < bestD) { bestD = acc; best = c }; c += 1
        }
        best
      }
    }

  /** Train + assign + write the bucketed sidecar. `df` must contain the
    * vector column (ARRAY<FLOAT|DOUBLE>) and a unique id column.
    */
  def build(spark: SparkSession, df: DataFrame, column: String, idColumn: String,
      datasetPath: String, numPartitions: Int = 16, metric: String = "l2",
      sampleFraction: Double = 1.0, seed: Long = 42L,
      pq: Option[PqParams] = None): IndexBuildResult = {
    val t0 = System.currentTimeMillis()
    try {
      require(df.columns.contains(column), s"column $column not found") // V8 validation

      val vecs = df.select(col(idColumn), col(column))
      val sample = if (sampleFraction >= 1.0) vecs else vecs.sample(sampleFraction, seed)
      // Cosine indexes train and assign on L2-NORMALIZED vectors: on the
      // unit sphere the L2 Voronoi equals the cosine Voronoi, so bucket
      // assignment and (normalized-L2) probe selection agree — without
      // this, partial-probe cosine searches lose recall systematically.
      // Raw vectors are what gets STORED; only clustering sees unit norms.
      val normalize = metric.toLowerCase == "cosine"
      // The repartition is a row-copy barrier: spark.ml caches its input
      // RDD, and rows reaching the cache straight from a DSv2 columnar
      // scan alias reusable column vectors (NPE on materialization).
      val trainArr = {
        val base = sample.select(col(column).cast("array<double>").as("__vd"))
        if (!normalize) base
        else base // materialize the norm first: Catalyst does not hoist
          // loop-invariant subexpressions out of HOF lambdas
          .withColumn("__n", expr("sqrt(aggregate(__vd, 0D, (a, x) -> a + x * x))"))
          .select(expr(
            "transform(__vd, x -> CASE WHEN __n = 0D THEN x ELSE x / __n END)").as("__vd"))
      }
      val train = trainArr.select(org.apache.spark.ml.functions
        .array_to_vector(col("__vd")).as("features"))
        .repartition(spark.sparkContext.defaultParallelism)

      val model = new KMeans().setK(numPartitions).setSeed(seed)
        .setMaxIter(20).setFeaturesCol("features").fit(train)
      val centroids = model.clusterCenters.map(_.toArray)
      val bc = spark.sparkContext.broadcast(centroids)

      val assign = assignUdf(bc, normalize)

      // Optional PQ: per-subspace KMeans codebooks trained on the sample,
      // every vector encoded to numSubVectors small codes stored next to
      // the raw vector (codes drive the cheap ADC scan; the raw vector
      // stays available for exact refine).
      val pqMeta = pq.map { params =>
        val dim = centroids.headOption.map(_.length).getOrElse(0)
        require(dim % params.numSubVectors == 0,
          s"dim $dim not divisible by numSubVectors ${params.numSubVectors}")
        val dsub = dim / params.numSubVectors
        val k = 1 << params.numBits
        // cosine codebooks train on the same normalized vectors the codes
        // will encode — reuse of trainArr keeps the two paths identical
        val pqSource = trainArr
        val codebooks = (0 until params.numSubVectors).map { j =>
          val subTrain = pqSource.select(org.apache.spark.ml.functions
            .array_to_vector(expr(s"slice(__vd, ${j * dsub + 1}, $dsub)"))
            .as("features"))
            .repartition(spark.sparkContext.defaultParallelism)
          new KMeans().setK(k).setSeed(seed + j).setMaxIter(10)
            .setFeaturesCol("features").fit(subTrain)
            .clusterCenters.map(_.toArray.toSeq).toSeq
        }
        PqMeta(params.numSubVectors, params.numBits, codebooks,
          normalized = Some(normalize))
      }

      val encode = pqMeta.map { pm =>
        val bcCb = spark.sparkContext.broadcast(
          pm.codebooks.map(_.map(_.toArray).toArray).toArray)
        val dsub = (centroids.headOption.map(_.length).getOrElse(0)) / pm.numSubVectors
        encodeUdf(bcCb, dsub, normalize)
      }

      val ip = indexPath(datasetPath, column)
      val assigned = df.withColumn("__ivf_part", assign(col(column).cast("array<float>")))
      val withCodes = encode.fold(assigned)(e =>
        assigned.withColumn("__pq_code", e(col(column).cast("array<float>"))))
      withCodes.write.mode("overwrite").partitionBy("__ivf_part")
        .parquet(bucketsPath(datasetPath, column))
      // the schema a read of the sidecar yields: the partition column
      // moves last and comes back nullable
      val bucketSchema = StructType(withCodes.schema.filterNot(_.name == "__ivf_part") :+
        StructField("__ivf_part", IntegerType, nullable = true))

      // per-bucket row counts for the oversized-bucket guard, from the
      // written files' parquet FOOTERS (driver-side metadata reads) —
      // the former partition-column scan was one more Spark job per build
      val counts = {
        val conf = spark.sessionState.newHadoopConf()
        val bp = new Path(bucketsPath(datasetPath, column))
        footerRowCounts(conf, bucketFiles(bp.getFileSystem(conf), bp).toSeq
          .flatMap { case (part, files) => files.map(part -> _) })
      }

      val meta = IndexMeta(column, idColumn, metric, numPartitions,
        centroids.headOption.map(_.length).getOrElse(0),
        centroids.map(_.toSeq).toSeq, pqMeta,
        datasetVersionOf(spark, datasetPath),
        formatVersion = Some(CurrentFormatVersion),
        bucketRows = Some(counts),
        bucketSchema = Some(bucketSchema.json))
      writeMeta(spark, ip, meta)
      IndexBuildResult(success = true, System.currentTimeMillis() - t0, numPartitions)
    } catch {
      case e: Exception =>
        IndexBuildResult(success = false, System.currentTimeMillis() - t0,
          numPartitions, Some(e.getMessage))
    }
  }

  /** Latest committed version of the dataset the index covers (None when
    * the path is not a lance dataset — e.g. an index over raw parquet).
    */
  private def datasetVersionOf(spark: SparkSession, datasetPath: String): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(datasetPath)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.latestVersion(fs, root)
  }

  /** Incremental index maintenance: bring a stale index up to the
    * dataset's latest version by assigning ONLY the fragments appended
    * since the build to the EXISTING centroids (and PQ codebooks) and
    * appending them to the bucket directories — no re-training, no
    * rewrite of already-indexed data. At 100 TB this is the difference
    * between indexing a day's appends and re-reading the whole table.
    *
    * Deltas only exist for appends: if any fragment the index covered was
    * rewritten (overwrite, compaction, re-clustering), the delta is
    * undefined and refresh fails loud — rebuild instead. Centroids are
    * NOT re-trained, so heavy drift in the appended data degrades bucket
    * balance (not correctness; full probing stays exact) — the standard
    * IVF maintenance trade-off. A per-bucket HNSW graph sidecar, if
    * present, refreshes incrementally too: only buckets that received
    * appended rows get their graphs rebuilt
    * ([[HnswIndex.refreshBuckets]], dynamic partition overwrite).
    *
    * Returns the number of newly indexed rows.
    */
  def refresh(spark: SparkSession, datasetPath: String, column: String): Long = {
    val meta = loadMeta(spark, datasetPath, column)
    val root = new Path(datasetPath)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val builtAt = meta.datasetVersion.getOrElse(throw new IllegalStateException(
      s"index at $datasetPath/$column records no dataset version (built over " +
        "raw parquet?) - delta refresh needs the lance manifest history; rebuild"))
    val latest = graft.format.LanceFormat.latestVersion(fs, root).getOrElse(
      throw new IllegalStateException(s"no lance dataset at $datasetPath"))
    if (latest <= builtAt) return 0L

    val oldM = graft.format.LanceFormat.readManifest(fs, root, builtAt)
    val newM = graft.format.LanceFormat.readManifest(fs, root, latest)
    val oldFiles = oldM.fragments.map(_.file).toSet
    val newFiles = newM.fragments.map(_.file).toSet
    require(oldFiles.subsetOf(newFiles),
      s"fragments indexed at version $builtAt were rewritten by version $latest " +
        "(overwrite/compaction/re-clustering) - the delta is undefined; rebuild " +
        "the index")
    val added = newM.fragments.filterNot(f => oldFiles(f.file))
    val ip = indexPath(datasetPath, column)
    var deltaCounts = Map.empty[String, Long]
    if (added.nonEmpty) {
      val paths = added.map(f =>
        graft.format.LanceFormat.fragmentPath(root, f.file).toString)
      val df = spark.read.schema(newM.schema).parquet(paths: _*)
      val bc = spark.sparkContext.broadcast(meta.centroids.map(_.toArray).toArray)
      val assign = assignUdf(bc, meta.metric.equalsIgnoreCase("cosine"))
      val assigned = df.withColumn("__ivf_part", assign(col(column).cast("array<float>")))
      val withCodes = meta.pq.fold(assigned) { pm =>
        val bcCb = spark.sparkContext.broadcast(
          pm.codebooks.map(_.map(_.toArray).toArray).toArray)
        assigned.withColumn("__pq_code",
          encodeUdf(bcCb, meta.dim / pm.numSubVectors,
            pm.normalized.getOrElse(false))(col(column).cast("array<float>")))
      }
      // ONE pass over the delta: write it, then derive the per-bucket
      // counts from the NEW files' parquet footers (driver metadata reads)
      // — the former groupBy-count job scanned the whole delta a second
      // time before the append
      val conf = spark.sessionState.newHadoopConf()
      val bp = new Path(bucketsPath(datasetPath, column))
      val bfs = bp.getFileSystem(conf)
      def listed(): Map[String, Seq[Path]] =
        if (!bfs.exists(bp)) Map.empty else bucketFiles(bfs, bp)
      val before = listed().values.flatten.toSet
      withCodes.write.mode("append").partitionBy("__ivf_part").parquet(bp.toString)
      deltaCounts = footerRowCounts(conf, listed().toSeq.flatMap { case (part, files) =>
        files.filterNot(before).map(part -> _)
      })
    }
    // per-bucket graphs are independent (no cross-bucket edges), so the
    // graph sidecar refreshes incrementally: rebuild ONLY the buckets
    // that received appended rows, every other bucket's graph files stay
    // untouched on disk
    val gp = new Path(HnswIndex.graphPath(datasetPath, column))
    if (fs.exists(gp)) {
      val touched = deltaCounts.keys.map(_.toInt).toSeq.sorted
      if (touched.nonEmpty) {
        log.info(s"refresh of $datasetPath/$column: rebuilding the HNSW graphs " +
          s"of ${touched.size}/${meta.numPartitions} buckets that received " +
          "appended rows (others untouched)")
        val r = HnswIndex.refreshBuckets(spark, datasetPath, column, touched)
        require(r.success, s"HNSW graph refresh failed: ${r.error.getOrElse("")}")
      }
    }
    val updated = meta.copy(datasetVersion = Some(latest),
      bucketRows = meta.bucketRows.map { old =>
        old ++ deltaCounts.map { case (b, n) => b -> (old.getOrElse(b, 0L) + n) }
      })
    writeMeta(spark, ip, updated)
    added.map(_.rowCount).sum
  }

  /** Write (or rewrite) `index.json` and drop any cached copy — the single
    * mutation point, so the meta cache can never serve a stale read after
    * a build or refresh.
    */
  private def writeMeta(spark: SparkSession, ip: String, meta: IndexMeta): Unit = {
    val metaPath = new Path(s"$ip/index.json")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(metaPath, true)
    try out.write(Serialization.write(meta).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val key = fs.makeQualified(metaPath).toString
    metaCache.keySet.removeIf(_._1 == key)
  }

  /** Evict any cached meta for this index (dropIndex's hook — a deleted
    * sidecar must not serve stale searches from the session cache). */
  private[graft] def evictMeta(spark: SparkSession, datasetPath: String,
      column: String): Unit = {
    val metaPath = new Path(s"${indexPath(datasetPath, column)}/index.json")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val key = fs.makeQualified(metaPath).toString
    metaCache.keySet.removeIf(_._1 == key)
  }

  /** Index staleness (production guard): an index built at version V does
    * not cover fragments committed after V — searching it silently misses
    * new rows. Worse, if fragments the index covered were REWRITTEN
    * (row-level DELETE/UPDATE/MERGE, compaction, re-clustering), the
    * index still serves their old rows: deleted documents come back as
    * ghosts. The two failure modes get distinct messages because the
    * fixes differ (refresh suffices for appends; a rewrite demands
    * rebuild — [[refresh]] enforces the same split loudly).
    * Pure so the spec can pin both messages; the search paths log it.
    */
  private[graft] def freshnessWarning(spark: SparkSession, datasetPath: String,
      meta: IndexMeta): Option[String] =
    for {
      built <- meta.datasetVersion
      now <- datasetVersionOf(spark, datasetPath)
      if now > built
    } yield {
      val root = new Path(datasetPath)
      val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
      val oldFiles = graft.format.LanceFormat.readManifest(fs, root, built)
        .fragments.map(_.file).toSet
      val newFiles = graft.format.LanceFormat.readManifest(fs, root, now)
        .fragments.map(_.file).toSet
      if (oldFiles.subsetOf(newFiles))
        s"index over $datasetPath/${meta.column} was built at dataset version " +
          s"$built but the dataset is now at $now; new fragments are not indexed " +
          "- refresh or rebuild to include them"
      else
        s"index over $datasetPath/${meta.column} was built at dataset version " +
          s"$built but fragments it covers were REWRITTEN by version $now " +
          "(row-level delete/update/merge, compaction or re-clustering): " +
          "searches may return rows that no longer exist (deleted rows as " +
          "ghosts, pre-update values) - rebuild the index"
    }

  def checkFreshness(spark: SparkSession, datasetPath: String, meta: IndexMeta): Unit =
    freshnessWarning(spark, datasetPath, meta).foreach(log.warn(_))

  /** JVM-scoped cache of parsed `index.json` metadata, keyed by (qualified
    * path, modification time, length) so an out-of-band rewrite naturally
    * misses; [[writeMeta]] (build/refresh) additionally evicts explicitly
    * — belt and braces, since local modTime granularity is 1 ms. Repeated
    * searches (the TVF serving shape) skip the filesystem read + JSON
    * parse the reference avoids by caching open searchers
    * (`ref:table/LanceVectorSearchFunction.java:113-136`).
    */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), IndexMeta]()

  /** Per-path count of actual filesystem reads of `index.json` (cache
    * misses) — observability hook the cache spec asserts on. Keyed by
    * qualified path so concurrent suites over other indexes cannot
    * perturb a path's count.
    */
  private val metaReadCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def metaReadCount(spark: SparkSession, datasetPath: String,
      column: String): Long = {
    val metaPath = new Path(s"${indexPath(datasetPath, column)}/index.json")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    Option(metaReadCounts.get(fs.makeQualified(metaPath).toString))
      .map(_.longValue).getOrElse(0L)
  }

  def loadMeta(spark: SparkSession, datasetPath: String, column: String): IndexMeta = {
    val metaPath = new Path(s"${indexPath(datasetPath, column)}/index.json")
    val fs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(metaPath)
    val key = (fs.makeQualified(metaPath).toString,
      st.getModificationTime, st.getLen)
    val cached = metaCache.get(key)
    if (cached != null) return cached
    metaReadCounts.merge(key._1, java.lang.Long.valueOf(1L),
      (a, b) => java.lang.Long.valueOf(a + b))
    val in = fs.open(metaPath)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      val stored = Serialization.read[IndexMeta](bytes.toString("UTF-8"))
      // Assignment-version gate: cosine buckets assigned before v2 used raw
      // (unnormalized) KMeans, which the current normalized probe ranking
      // disagrees with — probing such a sidecar loses recall with no other
      // symptom, so fail loud instead (L2/dot assignment never changed).
      if (stored.metric.equalsIgnoreCase("cosine") && !stored.formatVersion.exists(_ >= 2))
        throw new IllegalStateException(
          s"cosine index at $metaPath predates normalized bucket assignment " +
            s"(formatVersion ${stored.formatVersion.getOrElse(1)} < 2); its stored " +
            "buckets disagree with the current probe ranking - rebuild the index")
      // an index.json written before the bucket schema was stamped: infer
      // it here, once per cached entry — the only schema inference left
      val meta = if (stored.bucketSchema.isDefined) stored
        else stored.copy(bucketSchema = Some(
          spark.read.parquet(bucketsPath(datasetPath, column)).schema.json))
      if (metaCache.size > 64) metaCache.clear() // bounded; rebuilt on demand
      metaCache.put(key, meta)
      meta
    } finally in.close()
  }

  /** ANN search: probe the `nprobes` nearest buckets, exact distance inside
    * (reference defaults nprobes=20, `config/LanceOptions.java:215-219`).
    * `filter` is the reference's filtered vector search (V3,
    * `LanceVectorSearch.java:170-174`): applied inside the probed buckets
    * *before* the top-k, so the k results all satisfy it (pre-filtering,
    * not post-trimming).
    */
  def search(spark: SparkSession, datasetPath: String, column: String,
      query: Array[Float], k: Int, nprobes: Int = 20,
      metric: String = "l2",
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    validateQueryVector(query)
    val meta = loadMeta(spark, datasetPath, column)
    checkFreshness(spark, datasetPath, meta)
    // Probe ranking and bucket assignment must share one metric: a cosine
    // search over an L2-built index would rank normalized-L2 query-centroid
    // distances against raw-scale centroids and silently lose recall.
    // Same contract as HnswIndex.search — fail loud, never degrade quietly.
    require(metric.equalsIgnoreCase(meta.metric),
      s"index at $datasetPath/$column was built for metric ${meta.metric}, " +
        s"searched with $metric - rebuild the index or search with ${meta.metric}")
    require(query.length == meta.dim,
      s"query dim ${query.length} != index dim ${meta.dim}")
    val q = query.map(_.toDouble)
    // probe selection must use the SCORING metric: the cosine-nearest
    // centroid is not generally the L2-nearest one
    val ranked = meta.centroids.zipWithIndex
      .map { case (c, i) => (centroidDist(q, c.toArray, metric), i) }
      .sortBy(_._1).map(_._2)
    val dist = metric.toLowerCase match {
      case "l2" => l2_distance(col(column), lit(q))
      case "cosine" => cosine_distance(col(column), lit(q))
      case "dot" => -dot_product(col(column), lit(q))
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }

    def annQuery(n: Int): DataFrame = {
      val p = probedBuckets(spark, datasetPath, column, meta, ranked.take(n))
      filter.fold(p)(p.filter)
        .withColumn("_distance", dist)
        .drop("__ivf_part", "__pq_code") // internal columns never leak
        .orderBy(col("_distance"))
        .limit(k)
    }

    val probes = math.min(nprobes, meta.numPartitions)
    filter match {
      case None => annQuery(probes) // lazy, directory-pruned plan
      case Some(_) =>
        // V3 shortfall guard: a selective pre-filter can leave fewer than k
        // matching rows in the probed buckets — and a silent short result is
        // indistinguishable from "no more neighbors exist". Run the final
        // top-k ONCE (TakeOrderedAndProject over the pruned buckets); only
        // when it comes back short widen geometrically — loudly — until k
        // rows match or the whole index is probed. The common, non-starved
        // path pays exactly one job; the k result rows are returned as a
        // local relation (k is small by definition). Matches the reference's
        // search-within-index semantics (`LanceVectorSearch.java:170-174`)
        // but fails loud instead of short.
        var used = probes
        val first = annQuery(used) // its schema is every widening's
        var rows = first.take(k)
        while (rows.length < k && used < meta.numPartitions) {
          val widened = math.min(used * 2, meta.numPartitions)
          log.warn(s"filtered ANN over $datasetPath/$column: only ${rows.length} of " +
            s"k=$k rows match the filter in $used probed buckets; widening to $widened")
          used = widened
          rows = annQuery(used).take(k)
        }
        if (rows.length < k)
          log.warn(s"filtered ANN over $datasetPath/$column: the entire index " +
            s"holds only ${rows.length} rows matching the filter (k=$k)")
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), first.schema)
    }
  }

  /** Batch KNN join (retrieval-pipeline shape): top-k neighbors for EVERY
    * row of a query set in one distributed plan, instead of one driver
    * round trip per query. The scale geometry:
    *
    *  - the query set is the SMALL side (RAG prompts, dedup probes):
    *    collected once, each query ranked against the centroids on the
    *    driver, and exploded into `(query, probed bucket)` pairs that
    *    BROADCAST to the bucket scan;
    *  - candidates come from the bucket equi-join, so cost is
    *    q × (nprobes/numPartitions) × data — dialing nprobes down scales
    *    the scan linearly, exactly like single-query probing;
    *  - per-query top-k is a window over candidates only (partitioned by
    *    query id — q partitions of bucket-sized input, never the full
    *    cross product).
    *
    * With `nprobes = numPartitions` the result is the exact KNN join
    * (oracle-gated, v33/v35); partial probing trades recall for scan
    * exactly as [[search]] does.
    *
    * `geometry` picks how query→bucket pairs reach the data:
    *  - `"broadcast"` — collect the query set, rank centroids on the
    *    driver, broadcast the exploded pairs (RAG-sized query sets);
    *  - `"flipped"` — rank centroids in a distributed map over the query
    *    set (same broadcast-centroids UDF family as build/refresh) and
    *    shuffle BOTH sides on the bucket key — no driver collect, the
    *    d46/d47 blocked-join shape, for corpus-scale query sets
    *    (embedding-vs-embedding joins);
    *  - `"auto"` (default) — flip when the query count exceeds
    *    `spark.graft.vector.join.broadcastLimit` (default 10000; one
    *    cheap count job decides).
    * Both geometries produce identical results — only the plan differs.
    */
  def searchJoin(spark: SparkSession, datasetPath: String, column: String,
      queries: DataFrame, queryIdCol: String, k: Int, nprobes: Int = 20,
      metric: String = "l2", geometry: String = "auto"): DataFrame = {
    val meta = loadMeta(spark, datasetPath, column)
    checkFreshness(spark, datasetPath, meta)
    require(metric.equalsIgnoreCase(meta.metric),
      s"index at $datasetPath/$column was built for metric ${meta.metric}, " +
        s"searched with $metric - rebuild the index or search with ${meta.metric}")
    val probes = math.min(nprobes, meta.numPartitions)

    val flip = geometry.toLowerCase match {
      case "flipped" => true
      case "broadcast" => false
      case "auto" =>
        val limit = spark.conf.getOption("spark.graft.vector.join.broadcastLimit")
          .map(_.toLong).getOrElse(10000L)
        queries.count() > limit
      case g => throw new IllegalArgumentException(
        s"searchJoin geometry must be broadcast|flipped|auto, got $g")
    }

    val idField = queries.schema(queryIdCol)
    val pairs: DataFrame = if (flip) {
      // distributed assignment: each query row ranks the broadcast
      // centroids in an executor and explodes into its probed buckets
      val bc = spark.sparkContext.broadcast(meta.centroids.map(_.toArray).toArray)
      val m = metric
      val dim = meta.dim
      val probeBuckets = udf { (v: Seq[Float]) =>
        val vec = v.toArray
        validateQueryVector(vec)
        require(vec.length == dim, s"query dim ${vec.length} != index dim $dim")
        val q = vec.map(_.toDouble)
        bc.value.zipWithIndex
          .map { case (c, i) => (centroidDist(q, c, m), i) }
          .sortBy(_._1).take(probes).map(_._2)
      }
      queries
        .select(col(queryIdCol).as("__q_id"),
          col(column).cast("array<double>").as("__q_vec"),
          col(column).cast("array<float>").as("__q_f"))
        .withColumn("__ivf_part", explode(probeBuckets(col("__q_f"))))
        .drop("__q_f")
    } else {
      val qRows = queries.select(col(queryIdCol), col(column).cast("array<float>")).collect()
      val pairRows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(qRows.flatMap { r =>
          val vec = r.getSeq[Float](1).toArray
          validateQueryVector(vec)
          require(vec.length == meta.dim,
            s"query dim ${vec.length} != index dim ${meta.dim}")
          val q = vec.map(_.toDouble)
          meta.centroids.zipWithIndex
            .map { case (c, i) => (centroidDist(q, c.toArray, metric), i) }
            .sortBy(_._1).take(probes)
            .map { case (_, part) =>
              org.apache.spark.sql.Row(r.get(0), q.toSeq, part)
            }
        }: _*)
      val pairSchema = new org.apache.spark.sql.types.StructType()
        .add("__q_id", idField.dataType, nullable = false)
        .add("__q_vec", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false), nullable = false)
        .add("__ivf_part", org.apache.spark.sql.types.IntegerType, nullable = false)
      broadcast(spark.createDataFrame(pairRows, pairSchema))
    }

    val dist = metric.toLowerCase match {
      case "l2" => l2_distance(col(column), col("__q_vec"))
      case "cosine" => cosine_distance(col(column), col("__q_vec"))
      case "dot" => -dot_product(col(column), col("__q_vec"))
      case m => throw new IllegalArgumentException(s"unknown metric: $m")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__q_id"))
      .orderBy(col("_distance"), col(meta.idColumn))
    readSidecar(spark, bucketsPath(datasetPath, column), meta.bucketStruct, None)
      .join(pairs, "__ivf_part")
      .withColumn("_distance", dist)
      .withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= k)
      .drop("__ivf_part", "__pq_code", "__q_vec")
      .withColumnRenamed("__q_id", "query_id")
  }

  /** Index-accelerated LATE INTERACTION (ColBERT maxsim): score multi-
    * vector documents against a multi-vector query —
    * `score(doc) = Σ_q max_v ⟨q, v⟩` — WITHOUT rescanning the whole
    * vector table per query (the v42 flat scan's 100 TB scale-killer).
    *
    * Two phases, both distributed:
    *
    *  1. CANDIDATE GENERATION — each query vector ranks the broadcastable
    *     centroid table on the driver and probes its `nprobes` nearest
    *     buckets (the union over query vectors); candidate doc ids are
    *     the DISTINCT `docId` values inside those probed buckets — a
    *     directory-pruned scan of `≤ union-probes/numPartitions` of the
    *     data. With `candidatesPerQuery > 0` the set narrows further to
    *     the top-c docs per query vector by single-vector dot (ColBERT's
    *     own retrieval step), bounding phase 2's work independently of
    *     probe width.
    *  2. EXACT RERANK — the full bucket table LEFT SEMI-joins the
    *     candidate ids (a pushable equi-join: candidate sets are small
    *     after capping, so AQE broadcasts them), then the exact
    *     two-hash-agg maxsim runs over ONLY candidates' vectors: one
    *     codegen'd dot per (candidate vector × query vector),
    *     max-per-(doc, query vector), sum-per-doc, top-k.
    *
    * Buckets are probed under the DOT ranking regardless of the index's
    * assignment metric (the standard MIPS-over-L2-buckets approximation,
    * [[centroidDist]]); with `nprobes = numPartitions` and no cap, every
    * doc is a candidate and the result is EXACTLY the flat-scan maxsim —
    * the v43 gate's oracle equivalence. Scores are the same sequential
    * double accumulation as the flat path, rounded to 6 decimals before
    * ordering (the v42 determinism contract).
    *
    * `docId` is an expression over the indexed table's columns grouping
    * vectors into documents (e.g. `expr("vec_id div 4")` or a doc_id
    * column); `filter` pre-filters both phases (V3 semantics).
    */
  def maxSim(spark: SparkSession, datasetPath: String, column: String,
      docId: org.apache.spark.sql.Column, queryVecs: Seq[Array[Float]],
      k: Int, nprobes: Int = 20, candidatesPerQuery: Int = 0,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(queryVecs.nonEmpty, "maxSim needs at least one query vector")
    require(k > 0, "k must be positive")
    val meta = loadMeta(spark, datasetPath, column)
    checkFreshness(spark, datasetPath, meta)
    val qs = queryVecs.map { q =>
      validateQueryVector(q)
      require(q.length == meta.dim,
        s"query dim ${q.length} != index dim ${meta.dim}")
      q.map(_.toDouble)
    }
    val probes = math.min(nprobes, meta.numPartitions)
    // union of each query vector's probe set, ranked by DOT (maxsim's
    // scoring metric) against the driver-local centroids
    val probed = qs.flatMap { q =>
      meta.centroids.zipWithIndex
        .map { case (c, i) => (centroidDist(q, c.toArray, "dot"), i) }
        .sortBy(_._1).take(probes).map(_._2)
    }.distinct
    val buckets = readSidecar(spark, bucketsPath(datasetPath, column),
      meta.bucketStruct, None)
    val base = filter.fold(buckets)(buckets.filter)

    // broadcast query-vector table: (q_id, q_vec) — a late-interaction
    // query holds tens of vectors, driver-small by definition
    val qRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(qs.zipWithIndex.map { case (q, i) =>
        org.apache.spark.sql.Row(i, q.toSeq) }: _*)
    val qSchema = new org.apache.spark.sql.types.StructType()
      .add("__q_id", org.apache.spark.sql.types.IntegerType, nullable = false)
      .add("__q_vec", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = false), nullable = false)
    val qdf = broadcast(spark.createDataFrame(qRows, qSchema))

    // phase 1: candidate docs from the probed buckets only
    val probedScan = base
      .filter(col("__ivf_part").isin(probed.map(Integer.valueOf): _*))
      .withColumn("__doc", docId)
    val cands =
      if (candidatesPerQuery <= 0) probedScan.select(col("__doc")).distinct()
      else {
        // top-c docs PER QUERY VECTOR by best single-vector dot: a window
        // over per-(doc, q) maxima — candidate volume ≤ c × |queryVecs|
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__q_id"))
          .orderBy(col("__best").desc, col("__doc"))
        probedScan.crossJoin(qdf)
          .select(col("__doc"), col("__q_id"),
            dot_product(col(column), col("__q_vec")).as("__dot"))
          .groupBy(col("__doc"), col("__q_id"))
          .agg(max(col("__dot")).as("__best"))
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= candidatesPerQuery)
          .select(col("__doc")).distinct()
      }

    // phase 2: exact maxsim over ONLY candidates' vectors (all of a
    // candidate doc's vectors, wherever they live — the semi-join scans
    // the bucket table once; a capped candidate set broadcasts)
    base.withColumn("__doc", docId)
      .join(cands, Seq("__doc"), "left_semi")
      .crossJoin(qdf)
      .select(col("__doc"), col("__q_id"),
        dot_product(col(column), col("__q_vec")).as("__dot"))
      .groupBy(col("__doc"), col("__q_id"))
      .agg(max(col("__dot")).as("__best"))
      .groupBy(col("__doc"))
      .agg(round(sum(col("__best")), 6).as("maxsim"),
        count(lit(1)).as("n_q"))
      .withColumnRenamed("__doc", "doc")
      .orderBy(col("maxsim").desc, col("doc"))
      .limit(k)
  }

  /** The ADC lookup table under the scoring metric, flattened to one array
    * (m × 2^bits): squared L2 from each query subvector to every codebook
    * centroid for `l2`; the same on the NORMALIZED query for `cosine`
    * (codes encode normalized vectors — [[PqMeta.normalized]] — and on the
    * unit sphere ‖qₙ−xₙ‖² = 2(1−cosθ), monotone in cosine distance); the
    * negated inner product for `dot` (⟨q,x⟩ = Σⱼ⟨qⱼ,xⱼ⟩ decomposes across
    * subspaces exactly like L2, so ascending ADC = descending dot).
    * Shared by IVF and HNSW PQ search so the two paths can never rank
    * differently. Cosine/dot parity: `ref:LanceVectorSearch.java:274-285`,
    * `ref:LanceIndexBuilder.java:117-152`.
    */
  private[graft] def adcTable(meta: IndexMeta, pm: PqMeta,
      query: Array[Double]): Array[Double] = {
    val m = meta.metric.toLowerCase
    if (m == "cosine") require(pm.normalized.contains(true),
      s"cosine PQ search needs codes encoded on normalized vectors; this " +
        "index was built before cosine PQ existed - rebuild it")
    val q = if (m == "cosine") normalized(query) else query
    val dsub = meta.dim / pm.numSubVectors
    val kCodes = 1 << pm.numBits
    Array.tabulate(pm.numSubVectors * kCodes) { idx =>
      val j = idx / kCodes
      val c = idx % kCodes
      if (c >= pm.codebooks(j).size) Double.MaxValue
      else m match {
        case "dot" =>
          val cb = pm.codebooks(j)(c)
          var dot = 0.0; var i = 0
          while (i < dsub) { dot += q(j * dsub + i) * cb(i); i += 1 }
          -dot
        case _ => sq(q.slice(j * dsub, (j + 1) * dsub), pm.codebooks(j)(c).toArray)
      }
    }
  }

  /** Exact refine distance column under the metric (raw vectors). */
  private[index] def refineDist(column: String, q: Array[Double],
      metric: String): org.apache.spark.sql.Column = metric.toLowerCase match {
    case "l2" => l2_distance(col(column), lit(q))
    case "cosine" => cosine_distance(col(column), lit(q))
    case "dot" => -dot_product(col(column), lit(q))
    case m => throw new IllegalArgumentException(s"unknown metric: $m")
  }

  /** IVF_PQ search: probe `nprobes` buckets, score candidates with the
    * asymmetric-distance (ADC) lookup table — `Σ_j table(j)(code_j)`, a
    * codegen'd fold over the stored codes, no vector math per row — keep
    * the best `k × refineFactor`, then refine those exactly on the raw
    * vectors under the index's metric and return the top k (reference
    * `refine-factor`, `config/LanceOptions.java:233-237`). Serves all
    * three metrics like the reference's Lance-Rust IVF_PQ
    * (`LanceVectorSearch.java:274-285`): see [[adcTable]] for how cosine
    * and dot decompose.
    */
  def searchPq(spark: SparkSession, datasetPath: String, column: String,
      query: Array[Float], k: Int, nprobes: Int = 20,
      refineFactor: Int = 4,
      filter: Option[org.apache.spark.sql.Column] = None,
      metric: Option[String] = None): DataFrame = {
    validateQueryVector(query)
    val meta = loadMeta(spark, datasetPath, column)
    // PQ search always scores under the metric the codes were built for;
    // a caller EXPECTING a different metric must hear about it, not get
    // silently re-ranked (same contract as search/HnswIndex.search)
    metric.foreach(m => require(m.equalsIgnoreCase(meta.metric),
      s"index at $datasetPath/$column was built for metric ${meta.metric}, " +
        s"searched with $m - rebuild the index or search with ${meta.metric}"))
    checkFreshness(spark, datasetPath, meta)
    val pm = meta.pq.getOrElse(throw new IllegalStateException(
      s"index for $column was built without PQ"))
    require(query.length == meta.dim,
      s"query dim ${query.length} != index dim ${meta.dim}")
    val q = query.map(_.toDouble)
    val ranked = meta.centroids.zipWithIndex
      .map { case (c, i) => (centroidDist(q, c.toArray, meta.metric), i) }
      .sortBy(_._1).map(_._2)

    val table = adcTable(meta, pm, q)
    val kCodes = 1 << pm.numBits
    val tableSql = table.mkString("array(", "D, ", "D)")
    def annQuery(n: Int): DataFrame = {
      val p = probedBuckets(spark, datasetPath, column, meta, ranked.take(n))
      filter.fold(p)(p.filter) // pre-filter BEFORE the ADC top-(k·refine)
        .withColumn("__adc", expr(
          s"""aggregate(sequence(0, ${pm.numSubVectors - 1}), CAST(0 AS DOUBLE),
             | (acc, j) -> acc + element_at($tableSql, j * $kCodes + __pq_code[j] + 1))""".stripMargin))
        .orderBy(col("__adc"))
        .limit(k * refineFactor)
        .withColumn("_distance", refineDist(column, q, meta.metric))
        .drop("__ivf_part", "__pq_code", "__adc")
        .orderBy(col("_distance"))
        .limit(k)
    }

    val probes = math.min(nprobes, meta.numPartitions)
    filter match {
      case None => annQuery(probes) // lazy, directory-pruned plan
      case Some(_) =>
        // same V3 shortfall contract as [[search]]: widen probes loudly
        // instead of returning a silent short set
        var used = probes
        val first = annQuery(used) // its schema is every widening's
        var rows = first.take(k)
        while (rows.length < k && used < meta.numPartitions) {
          val widened = math.min(used * 2, meta.numPartitions)
          log.warn(s"filtered PQ search over $datasetPath/$column: only " +
            s"${rows.length} of k=$k rows match the filter in $used probed " +
            s"buckets; widening to $widened")
          used = widened
          rows = annQuery(used).take(k)
        }
        if (rows.length < k)
          log.warn(s"filtered PQ search over $datasetPath/$column: the entire " +
            s"index holds only ${rows.length} rows matching the filter (k=$k)")
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), first.schema)
    }
  }
}
