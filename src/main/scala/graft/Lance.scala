package graft

import graft.functions.VectorFunctions
import graft.index.IvfIndex
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** User-facing facade — everything a user of the reference connector does,
  * as one Scala API (SURVEY §2 operator inventory):
  *
  * {{{
  * Lance.write(df, "/data/docs")                       // S5: fragment write
  * val t  = Lance.read(spark, "/data/docs")            // S1: parallel scan
  * val t1 = Lance.read(spark, "/data/docs", version = Some(3)) // time travel
  * Lance.knnSearch(t, "embedding", vec, k = 5)          // V1: exact KNN
  * Lance.buildIndex(spark, t, "embedding", "id", path)  // V8: IVF build
  * Lance.annSearch(spark, path, "embedding", vec, 5)    // V1/V9: IVF probe
  * Lance.registerFunctions(spark)                       // V2 in SQL
  * }}}
  *
  * SQL users register the catalog (`spark.sql.catalog.lance=
  * graft.catalog.LanceCatalog`) and/or the extensions
  * (`spark.sql.extensions=graft.GraftSparkExtensions`) instead.
  */
object Lance {
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Lance")

  /** Column-metadata key carrying a fixed vector dimension. */
  val VectorDimKey = "graft.vector.dim"

  /** Stamp `column` with a fixed vector dimension: the dimension rides the
    * stored schema and every write validates row lengths against it
    * (SURVEY §7.4 risk 5 — the reference drops the dimension,
    * `LanceTypeConverter.java:235-242`).
    */
  def withVectorDim(df: DataFrame, column: String, dim: Int): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(df.schema(column).metadata)
      .putLong(VectorDimKey, dim.toLong).build()
    df.withColumn(column, df(column).as(column, meta))
  }

  /** Read a lance dataset; `version` = time travel (reference MVCC).
    * `filter`/`columns`/`limit` mirror the reference's `read.filter`/
    * `read.columns`/`read.limit` source options — declared on the
    * DataFrame so Catalyst pushes all three into the scan (`PushedFilters`
    * / `ReadSchema` / limit pushdown), same execution the reference gets
    * from its explicit option plumbing.
    */
  def read(spark: SparkSession, path: String, version: Option[Long] = None,
      filter: Option[String] = None, columns: Option[Seq[String]] = None,
      limit: Option[Int] = None, timestamp: Option[String] = None,
      tag: Option[String] = None, branch: Option[String] = None): DataFrame = {
    val r = spark.read.format("lance")
    version.foreach(v => r.option("versionAsOf", v.toString))
    // newest version committed at or before this instant (epoch millis,
    // ISO instant, or "yyyy-MM-dd HH:mm:ss" UTC)
    timestamp.foreach(t => r.option("timestampAsOf", t))
    // named main-lineage snapshot / branch lineage (version/timestamp
    // then address versions WITHIN the branch)
    tag.foreach(t => r.option("tagAsOf", t))
    branch.foreach(b => r.option("branch", b))
    val df = r.load(path)
    // `read.filter` option parity (P8): conjoined with any later filters
    val filtered = filter.fold(df)(f =>
      df.filter(org.apache.spark.sql.functions.expr(f)))
    val projected = columns.fold(filtered)(cs =>
      filtered.select(cs.map(org.apache.spark.sql.functions.col): _*))
    limit.fold(projected)(projected.limit)
  }

  /** Append (default, reference write.mode) or overwrite. */
  def write(df: DataFrame, path: String, mode: String = "append",
      maxRowsPerFile: Long = 1000000L): Unit =
    df.write.format("lance")
      .option("write.max-rows-per-file", maxRowsPerFile.toString)
      .mode(mode).save(path)

  /** Exact KNN over any DataFrame with a vector column (V1/V3/V6).
    *
    * With `spark.graft.ann.useIndex=true` the optimizer may rewrite this
    * plan into an index probe ([[graft.plans.AnnIndexRewrite]]). Note the
    * PRE-FILTERED probe (a `.filter` before knnSearch) executes its Spark
    * jobs AT PLAN TIME — the shortfall-widening loop needs row counts —
    * and substitutes the k rows as a local relation; repeated
    * optimizations of an identical plan are served from a per-session
    * memo keyed on the dataset version, so explain/re-analysis does not
    * re-run the probe.
    */
  def knnSearch(df: DataFrame, vectorCol: String, query: Array[Float], k: Int,
      metric: String = "l2", filter: Option[Column] = None): DataFrame =
    Similarity.knnSearch(df, vectorCol, query, k, metric, filter)

  /** Build an IVF index sidecar for a dataset (V8). */
  def buildIndex(spark: SparkSession, df: DataFrame, vectorCol: String,
      idCol: String, datasetPath: String, numPartitions: Int = 256,
      metric: String = "l2", sampleFraction: Double = 1.0): IvfIndex.IndexBuildResult =
    IvfIndex.build(spark, df, vectorCol, idCol, datasetPath, numPartitions,
      metric, sampleFraction)

  /** ANN search through the IVF index (V1 with nprobes, V9 defaults;
    * `filter` pre-filters inside the probed buckets with loud probe
    * widening on shortfall — V3).
    */
  def annSearch(spark: SparkSession, datasetPath: String, vectorCol: String,
      query: Array[Float], k: Int, nprobes: Int = 20,
      metric: String = "l2", filter: Option[Column] = None): DataFrame =
    IvfIndex.search(spark, datasetPath, vectorCol, query, k, nprobes, metric, filter)

  /** Delta-index the fragments appended since the IVF index was built
    * (no re-training, no rewrite of indexed data). Returns rows indexed.
    */
  def refreshIndex(spark: SparkSession, datasetPath: String, vectorCol: String): Long =
    IvfIndex.refresh(spark, datasetPath, vectorCol)

  /** Batch KNN JOIN: top-k neighbors for every row of a query set in one
    * distributed plan. `geometry` = "broadcast" (RAG-sized query sets:
    * query→bucket pairs broadcast to the bucket scan), "flipped"
    * (corpus-scale: queries assign to buckets in executors, both sides
    * shuffle on the bucket key — no driver collect), or "auto" (flip
    * above `spark.graft.vector.join.broadcastLimit`, default 10000).
    */
  def knnJoin(spark: SparkSession, datasetPath: String, vectorCol: String,
      queries: DataFrame, queryIdCol: String, k: Int, nprobes: Int = 20,
      metric: String = "l2", geometry: String = "auto"): DataFrame =
    IvfIndex.searchJoin(spark, datasetPath, vectorCol, queries, queryIdCol,
      k, nprobes, metric, geometry)

  /** Index-accelerated LATE INTERACTION (ColBERT maxsim): rank multi-
    * vector documents by `Σ_q max_v ⟨q,v⟩` — candidate docs generated
    * from the IVF index's probed buckets (optionally capped to the top
    * `candidatesPerQuery` docs per query vector), then the exact
    * two-hash-agg rerank over candidates' vectors only. `docId` groups
    * the indexed table's vectors into documents. Full probe + no cap =
    * exactly the flat-scan maxsim (oracle-gated, v43).
    */
  def maxSim(spark: SparkSession, datasetPath: String, vectorCol: String,
      docId: Column, queryVecs: Seq[Array[Float]], k: Int,
      nprobes: Int = 20, candidatesPerQuery: Int = 0,
      filter: Option[Column] = None): DataFrame =
    IvfIndex.maxSim(spark, datasetPath, vectorCol, docId, queryVecs, k,
      nprobes, candidatesPerQuery, filter)

  /** Build an IVF_PQ index (reference index.num-sub-vectors/num-bits).
    * All three metrics supported: cosine trains/encodes on normalized
    * vectors, dot decomposes the inner product in the ADC table.
    */
  def buildPqIndex(spark: SparkSession, df: DataFrame, vectorCol: String,
      idCol: String, datasetPath: String, numPartitions: Int = 256,
      numSubVectors: Int = 16, numBits: Int = 8,
      metric: String = "l2"): IvfIndex.IndexBuildResult =
    IvfIndex.build(spark, df, vectorCol, idCol, datasetPath, numPartitions,
      metric = metric, pq = Some(IvfIndex.PqParams(numSubVectors, numBits)))

  /** ANN search via PQ codes (ADC) + exact refine (reference
    * vector.refine-factor); `filter` pre-filters before the ADC top-k.
    */
  def annSearchPq(spark: SparkSession, datasetPath: String, vectorCol: String,
      query: Array[Float], k: Int, nprobes: Int = 20,
      refineFactor: Int = 4, filter: Option[Column] = None): DataFrame =
    IvfIndex.searchPq(spark, datasetPath, vectorCol, query, k, nprobes,
      refineFactor, filter)

  /** Build the per-bucket HNSW graph sidecar over an existing IVF index
    * (reference IVF_HNSW, index.max-level/m/ef-construction).
    */
  def buildHnswIndex(spark: SparkSession, datasetPath: String, vectorCol: String,
      m: Int = 16, maxLevel: Int = 7, efConstruction: Int = 100): IvfIndex.IndexBuildResult =
    graft.index.HnswIndex.build(spark, datasetPath, vectorCol,
      graft.index.HnswIndex.Params(m, maxLevel, efConstruction))

  /** ANN search probing IVF buckets and walking each bucket's HNSW graph
    * (reference vector.ef / vector.nprobes). `filter` composes with the
    * beam walk: non-matching nodes are traversed but never returned, and
    * the beam/probe set widen loudly on shortfall.
    */
  def annSearchHnsw(spark: SparkSession, datasetPath: String, vectorCol: String,
      query: Array[Float], k: Int, nprobes: Int = 20, ef: Int = 100,
      filter: Option[Column] = None): DataFrame =
    graft.index.HnswIndex.search(spark, datasetPath, vectorCol, query, k,
      nprobes, ef, filter = filter)

  /** ANN search walking the HNSW graph on ADC-scored PQ codes with exact
    * re-rank — the reference's IVF_HNSW_PQ composite.
    */
  def annSearchHnswPq(spark: SparkSession, datasetPath: String, vectorCol: String,
      query: Array[Float], k: Int, nprobes: Int = 20, ef: Int = 100,
      filter: Option[Column] = None): DataFrame =
    graft.index.HnswIndex.searchPq(spark, datasetPath, vectorCol, query, k,
      nprobes, ef, filter)

  /** HNSW walk + EXACT-double re-rank (opt-in, v47): the graph walks
    * float32 nodes, then the walk's candidate pool (max(ef,k)) re-ranks
    * on the RAW float64 column — full probing + re-rank equals the
    * brute-force double KNN from a graph index. SQL twin:
    * `vector_search(..., 'hnsw_rerank')`.
    */
  def annSearchHnswRerank(spark: SparkSession, datasetPath: String,
      vectorCol: String, query: Array[Double], k: Int, nprobes: Int = 20,
      ef: Int = 100, filter: Option[Column] = None): DataFrame =
    graft.index.HnswIndex.searchRerankDouble(spark, datasetPath, vectorCol,
      query, k, nprobes, ef, filter = filter)

  /** similarity = 1/(1+distance) (V4). */
  def similarity(distance: Column): Column = VectorFunctions.similarity(distance)

  /** Register the distance functions on an existing session (V2/V7). */
  def registerFunctions(spark: SparkSession): Unit = VectorFunctions.register(spark)

  /** Row-level DELETE: copy-on-write rewrite of only the fragments whose
    * manifest stats admit a match; untouched fragments carry over by
    * reference. SQL users get `DELETE FROM lance.db.t WHERE ...` through
    * the catalog. No-ops (nothing matched) commit no version.
    */
  def deleteWhere(spark: SparkSession, path: String,
      condition: String): graft.operators.Dml.RowLevelResult =
    graft.operators.Dml.deleteWhere(spark, path, condition)

  /** Row-level UPDATE (`SET col = expr` pairs, evaluated against the
    * pre-update row, cast back to the column's declared type). Same
    * stats-scoped copy-on-write as [[deleteWhere]].
    */
  def updateWhere(spark: SparkSession, path: String, condition: String,
      set: Map[String, String]): graft.operators.Dml.RowLevelResult =
    graft.operators.Dml.updateWhere(spark, path, condition, set)

  /** Predicate-scoped overwrite (Delta's `replaceWhere`) — the backfill
    * primitive: atomically replace exactly the rows matching `condition`
    * with `data`, one commit. Strict: every incoming row must satisfy
    * the predicate, or the whole write refuses before touching anything.
    */
  def replaceWhere(spark: SparkSession, path: String, condition: String,
      data: org.apache.spark.sql.DataFrame): graft.operators.Dml.RowLevelResult =
    graft.operators.Dml.replaceWhere(spark, path,
      org.apache.spark.sql.functions.expr(condition), data)

  /** MERGE (upsert): source rows replace key-matched target rows and
    * insert otherwise, in one commit. Candidate fragments are pruned by
    * the source's per-key min/max — a CDC batch touching recent keys
    * rewrites only the fragments covering them.
    */
  def upsert(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String]): graft.operators.Dml.RowLevelResult =
    graft.operators.Dml.upsert(spark, path, source, keys)

  /** CDC apply: keyed upserts AND deletes from one change batch, ONE
    * atomic commit (Delta's `foreachBatch` merge-with-deletes).
    * `deleteWhen` evaluates per source row — e.g.
    * `col("_change_type") === "delete"` to apply a [[read]]-CDC or
    * `lance_changes` feed downstream. See
    * [[graft.operators.Dml.applyChanges]]. */
  def applyChanges(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], deleteWhen: org.apache.spark.sql.Column)
      : graft.operators.Dml.RowLevelResult =
    graft.operators.Dml.applyChanges(spark, path, source, keys, deleteWhen)

  /** Random row access — Lance's hallmark `take`: fetch rows by GLOBAL
    * row id without a table scan. The id space is the manifest's fragment
    * order × within-file row order (exactly Lance's address-style row
    * ids): id `g` lives in the fragment whose cumulative-rowCount range
    * contains it, at file offset `g - start`. Only the fragments
    * containing requested ids are read — the manifest's rowCounts resolve
    * fragment + offset with ZERO I/O on the driver — and the in-file
    * offset check rides `_metadata.row_index` (generated by the parquet
    * reader, no data column needed). Returns the rows with a `_rowid`
    * column, ordered by id.
    *
    * Ids are PER-VERSION addresses (pass `version` for time travel):
    * compaction or row-level DML renumbers them — Lance's address-based
    * row-id contract. Intended for point access (feature lookups, sample
    * inspection, KNN-result hydration): k ids touch ≤ k fragments. For
    * bulk id sets join against a scan instead of an IN-list.
    */
  def take(spark: SparkSession, path: String, rowIds: Seq[Long],
      version: Option[Long] = None): DataFrame = {
    require(rowIds.nonEmpty, "take needs at least one row id")
    val ids = rowIds.distinct.sorted.toIndexedSeq
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val m = version match {
      case Some(v) => graft.format.LanceFormat.readManifest(fs, root, v)
      case None => graft.format.LanceFormat.readLatest(fs, root).getOrElse(
        throw new IllegalArgumentException(s"no lance dataset at $path"))
    }
    require(ids.head >= 0 && ids.last < m.rowCount,
      s"row ids must be in [0, ${m.rowCount}); got [${ids.head}, ${ids.last}]")
    // fragment -> [start, start+rowCount) in manifest order, then keep
    // only fragments holding a requested id — one merge pass over the
    // two sorted sequences (O(fragments + ids), not fragments × ids:
    // at a million fragments the product would be a driver stall)
    val withStarts = m.fragments.scanLeft(("", 0L, 0L)) {
      case ((_, s, rc), f) => (f.file, s + rc, f.rowCount)
    }.drop(1)
    val needed = {
      val out = Seq.newBuilder[(String, Long, Long)]
      var i = 0
      withStarts.foreach { case t @ (_, start, rc) =>
        while (i < ids.size && ids(i) < start) i += 1
        if (i < ids.size && ids(i) < start + rc) out += t
      }
      out.result()
    }
    val files = needed.map { case (f, _, _) =>
      graft.format.LanceFormat.fragmentPath(root, f).toString }
    val F = org.apache.spark.sql.functions
    // keyed by the file's LAST segment (what input_file_name yields) —
    // identical to the manifest string for local names, and the unique
    // UUID tail for a clone's external references
    val startByFile = F.map(needed.flatMap { case (f, start, _) =>
      Seq(F.lit(f.substring(f.lastIndexOf('/') + 1)), F.lit(start)) }: _*)
    // input_file_name() is URI-ENCODED: decode the last path segment
    // before the manifest-name lookup, and fail LOUD on a miss — a null
    // start would otherwise null _rowid and the isin filter would
    // silently DROP the row (wrong result, not an error). Decoding can
    // itself mismatch on exotic names ('+' is literal in a URI path but
    // decodes to a space); the guard turns that into a loud error too.
    val seg = F.url_decode(F.element_at(F.split(F.input_file_name(), "/"), -1))
    val start = F.element_at(startByFile, seg)
    // physical-named read (metadata columns resolve only on the direct
    // file-source frame); rename to logical LAST, after _rowid is bound
    val taken = spark.read.schema(m.physicalSchema).parquet(files: _*)
      .withColumn("_rowid",
        F.when(start.isNull, F.raise_error(F.concat(
          F.lit("lance take: fragment file name lookup failed for "),
          F.input_file_name())))
          .otherwise(start + F.col("_metadata.row_index")))
      .filter(F.col("_rowid").isin(ids: _*))
      .orderBy("_rowid")
    if (m.mapping.isEmpty) taken
    else taken.toDF((m.schema.fieldNames :+ "_rowid").toIndexedSeq: _*)
  }

  /** List committed versions of a dataset (MVCC manifest history). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.listVersions(fs, root)
  }

  /** Compact small fragments into files of up to `maxRowsPerFile` rows and
    * commit the result as a new version. Streaming sinks accumulate one
    * fragment per task per epoch; compaction restores scan efficiency
    * (fewer, larger row groups) without breaking time travel — prior
    * versions still reference the old files until [[vacuum]] reclaims
    * them. Single-writer maintenance op: a concurrent append between the
    * snapshot read and the overwrite commit would be superseded.
    * Returns (fragmentsBefore, fragmentsAfter).
    */
  def compact(spark: SparkSession, path: String,
      maxRowsPerFile: Long = 1000000L): (Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val manifest = graft.format.LanceFormat.readLatest(fs, root)
    val before = manifest.map(_.fragments.size).getOrElse(0)
    // size target files from the manifest's row counts (no counting scan),
    // and carry the streaming epoch watermark forward — dropping it would
    // let a replayed epoch re-commit after compaction (exactly-once break)
    val rows = manifest.map(_.rowCount).getOrElse(0L)
    val targetParts = math.max(1L, (rows + maxRowsPerFile - 1) / maxRowsPerFile).toInt
    val base = read(spark, path)
    // a declared clustering spec ([[cluster]]) survives maintenance: the
    // rewrite re-establishes z-order over ALL rows (including fragments
    // appended unsorted since), instead of shuffling the order away
    val clusterCols = manifest.flatMap(_.clusterBy).getOrElse(Seq.empty)
      .filter(c => base.columns.contains(c) &&
        base.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    // a declared hash-bucket layout survives compaction the same way the
    // z-order spec does: repartition ON the bucket so each task holds few
    // buckets (the writer's routing guarantees purity either way — this
    // keeps the output file count ~max(buckets, targetParts))
    val bucketSpec = manifest.flatMap(_.bucketBy)
      .filter(_.columns.forall(base.columns.contains))
    val laid = bucketSpec match {
      case Some(b) =>
        import org.apache.spark.sql.functions.{col => c}
        val be = graft.format.BucketHash.bucketColumn(b.columns, b.widthsVec)
        val tags = math.min(graft.format.BucketHash.totalTags(
          b.widthsVec), 4096L).toInt
        base.repartition(math.max(targetParts, tags), be)
          .sortWithinPartitions(be +: b.columns.map(c): _*)
      case None if clusterCols.isEmpty => base.repartition(targetParts)
      case None => base.withColumn("__z", zValueColumn(base, clusterCols))
        .repartitionByRange(targetParts,
          org.apache.spark.sql.functions.col("__z"))
        .sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
        .drop("__z")
    }
    val w = laid
      .write.format("lance")
      .option("write.max-rows-per-file", maxRowsPerFile.toString)
      // the layout above IS the distribution - skip the bucketed-table
      // default shuffle the write would otherwise plan on top of it
      .option("write.distribution-mode", "none")
      .option("write.operation", "rewrite") // row-preserving: changefeeds skip it
    manifest.flatMap(_.epochId).fold(w)(e => w.option("write.epoch-id", e.toString))
      .mode("overwrite").save(path)
    val after = graft.format.LanceFormat.readLatest(fs, root)
      .map(_.fragments.size).getOrElse(0)
    (before, after)
  }

  /** Targeted compaction: bin-pack ONLY fragments smaller than `minRows`
    * into `maxRowsPerFile`-sized files; every other fragment carries into
    * the new version BY REFERENCE, untouched. This is the 100 TB
    * maintenance shape — streaming epochs and small appends leave a long
    * tail of tiny fragments, and [[compact]]'s full rewrite is a
    * non-starter at that size: here I/O is proportional to the small tail
    * alone. Committed as a row-preserving replace (`operation="rewrite"`),
    * so changefeed readers skip it and a concurrent rewrite of the same
    * fragments fails loud instead of resurrecting rows. The streaming
    * epoch watermark carries forward automatically (commitReplace keeps
    * `prev.epochId`). Returns (fragmentsBefore, fragmentsAfter); fewer
    * than two small fragments is a no-op committing nothing.
    */
  def compactSmall(spark: SparkSession, path: String, minRows: Long,
      maxRowsPerFile: Long = 1000000L): (Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val m = graft.format.LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path"))
    val small = m.fragments.filter(_.rowCount < minRows)
    if (small.size <= 1) return (m.fragments.size, m.fragments.size)
    val rows = small.map(_.rowCount).sum
    val parts = math.max(1L, (rows + maxRowsPerFile - 1) / maxRowsPerFile).toInt
    val tail = locally {
      val df = spark.read.schema(m.physicalSchema)
        .parquet(small.map(f =>
          graft.format.LanceFormat.fragmentPath(root, f.file).toString): _*)
      if (m.mapping.isEmpty) df else df.toDF(m.schema.fieldNames.toIndexedSeq: _*)
    }
    // under a declared clustering spec, the bin-packed tail is at least
    // LOCALLY z-sorted (global order is [[compact]]'s job — here I/O
    // stays proportional to the small tail alone, the whole point)
    val clusterCols = m.clusterBy.getOrElse(Seq.empty)
      .filter(c => tail.columns.contains(c) &&
        tail.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    val bucketSpec = m.bucketBy.filter(_.columns.forall(tail.columns.contains))
    (bucketSpec match {
      case Some(b) =>
        import org.apache.spark.sql.functions.{col => c}
        // co-locate the tail per bucket, KEY-SORTED within tasks like
        // every other bucket-laying path: the key-sorted-bucket-file
        // invariant (row-group pruning inside a bucket) must survive
        // small-file compaction, not just full rewrites
        val be = graft.format.BucketHash.bucketColumn(b.columns, b.widthsVec)
        tail.repartition(parts, be)
          .sortWithinPartitions(be +: b.columns.map(c): _*)
      case None if clusterCols.isEmpty => tail.repartition(parts)
      case None => tail.withColumn("__z", zValueColumn(tail, clusterCols))
        .repartitionByRange(parts, org.apache.spark.sql.functions.col("__z"))
        .sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
        .drop("__z")
    })
      .write.format("lance")
      .option("write.replace-fragments", small.map(_.id).mkString(","))
      .option("write.distribution-mode", "none") // tail is already laid
      .option("write.operation", "rewrite")
      .option("write.max-rows-per-file", maxRowsPerFile.toString)
      .mode("append").save(path)
    val after = graft.format.LanceFormat.readLatest(fs, root)
      .map(_.fragments.size).getOrElse(0)
    (m.fragments.size, after)
  }

  /** One scheduled-maintenance run ([[optimize]]). `indexesStale` names
    * sidecars whose refresh demanded a rebuild (rewritten source
    * fragments) — they stay CORRECT but unaccelerated until rebuilt. */
  case class OptimizeResult(fragmentsBefore: Int, fragmentsAfter: Int,
      indexesRefreshed: Seq[String], indexesStale: Seq[String],
      columnsAnalyzed: Int, manifestsDeleted: Int, filesDeleted: Int,
      viewsRefreshed: Int = 0, viewsStale: Int = 0,
      vacuumBlockers: Seq[String] = Seq.empty)

  /** The single maintenance entry point a 100 TB table gets scheduled
    * with — `CALL lance.optimize('db.t')` nightly — bundling, in the
    * order that keeps each step's output valid for the next:
    *
    *  1. [[compactSmall]]: bin-pack the small-fragment tail streaming
    *     epochs and trickle appends leave behind (I/O ∝ the tail, layout
    *     aware: bucket routing and z-order both survive);
    *  2. refresh every index sidecar (scalar postings, FTS, IVF/HNSW) —
    *     a refresh that demands a rebuild (the compaction rewrote its
    *     fragments) is REPORTED stale, never silently rebuilt: a rebuild
    *     is an operator decision at index scale, warn-don't-block (the
    *     `write.refresh-indexes` posture);
    *  3. re-ANALYZE exactly the previously analyzed columns (opt-in
    *     stats stay opt-in; incremental when the manifest allows it,
    *     which a no-op compaction preserves);
    *  4. optionally [[vacuum]] (`keepVersions` > 0), after everything
    *     above committed — tags/branches stay pinned as always.
    *
    * Every step is independent: a failed refresh degrades to a warning
    * (indexes are staleness-checked at query time and stay correct),
    * never fails the run.
    */
  def optimize(spark: SparkSession, path: String,
      minRows: Long = 100000L, maxRowsPerFile: Long = 1000000L,
      reanalyze: Boolean = true, keepVersions: Int = -1,
      refreshViews: Boolean = true): OptimizeResult = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val (before, after) = compactSmall(spark, path, minRows, maxRowsPerFile)

    // the index refreshes are INDEPENDENT (each owns its own
    // _indices/<col>_<kind> dir and commits only its own meta; the
    // source manifest is read-only to all of them), so they overlap on
    // a small driver thread pool (guide §2.6): one refresh's straggler
    // tail back-fills executors with the next's jobs instead of leaving
    // them idle. Outcomes keep listIndexSidecars order — deterministic
    // reporting regardless of completion order.
    val outcomes: Seq[Option[(String, Boolean)]] = {
      def attempt(col: String, kind: String)(refresh: => Any)
          : (String, Boolean) =
        try { refresh; (s"$col ($kind)", true) } catch {
          case e: Exception =>
            log.warn(s"optimize: $kind index on '$col' at $path needs a " +
              s"rebuild - still correct, unaccelerated until then: $e")
            (s"$col ($kind)", false)
        }
      graft.format.DriverPar.parMap(
        graft.format.LanceFormat.listIndexSidecars(fs, root),
        threads = 3, minPar = 2) { case (col, kind) =>
        kind match {
          case "scalar" => Some(attempt(col, kind)(
            graft.index.ScalarIndex.refresh(spark, path, col)))
          case "fts" => Some(attempt(col, kind)(
            graft.index.FtsIndex.refresh(spark, path, col,
              allowRebuild = false))) // stale > a silent nightly rebuild
          case "ivf" => Some(attempt(col, kind)(
            graft.index.IvfIndex.refresh(spark, path, col)))
          case _ => None // "hnsw" graphs refresh through their ivf sidecar
        }
      }
    }
    val refreshed = outcomes.flatten.collect { case (n, true) => n }
    val stale = outcomes.flatten.collect { case (n, false) => n }

    val analyzed =
      if (!reanalyze) 0
      else graft.format.TableStats.read(fs, root) match {
        case Some(s) if s.columns.nonEmpty =>
          val live = graft.format.LanceFormat.readLatest(fs, root)
            .map(_.schema.fieldNames.toSet).getOrElse(Set.empty[String])
          val cols = s.columns.keys.filter(live.contains).toSeq.sorted
          if (cols.isEmpty) 0 else analyze(spark, path, cols).size
        case _ => 0 // never create stats unbidden
      }

    // dependent materialized views, same stale-never-fail posture as
    // the index sidecars: a nightly optimize leaves derived tables fresh
    val mvResults =
      if (!refreshViews) Seq.empty
      else graft.operators.MaterializedView.refreshDependents(spark, path)
    mvResults.foreach {
      case (vp, Left(err)) =>
        log.warn(s"optimize: view $vp is stale but correct: $err")
      case _ => ()
    }
    // dim-side self-heal: registrations whose view exists but no longer
    // references this table release their vacuum pin tags
    // (refreshDependents can't — dims have no refresh fan-out)
    if (refreshViews)
      graft.operators.MaterializedView.healDimRegistrations(spark, path)
        .foreach(vp =>
          log.warn(s"optimize: released stale dim registration $vp"))

    // explicit keepVersions wins; otherwise the table's DECLARED
    // retention policy applies — the self-contained nightly call
    val (effKeep, effOlder): (Int, Option[Long]) =
      if (keepVersions > 0) (keepVersions, None)
      else retention(spark, path).getOrElse((-1, None))
    // DEPENDENT-CONSUMER PIN: registered views and replicas hold a
    // source-version watermark their next incremental window starts
    // from — vacuuming past it converts one missed refresh (or a
    // replica that simply syncs on its own schedule) into a permanent
    // 'feed window lost' requiring a full rebuild. The vacuum keeps at
    // least back to the OLDEST live dependent watermark, whatever the
    // policy says; an unreadable dependent contributes no pin
    // (conservative for retention, never for the dependent).
    var blockers: Seq[String] = Seq.empty
    val (mans, files) =
      if (effKeep <= 0) (0, 0)
      else {
        val latest = graft.format.LanceFormat.readLatest(fs, root)
          .map(_.version).getOrElse(0L)
        val pins = dependentPins(spark, path)
        val pinKeep = pins.map(_._3).minOption
          .map(w => (latest - w + 1).toInt).getOrElse(0)
        // WHY the table stops vacuuming, by name: every pin holding the
        // vacuum past the declared policy is a lagging consumer someone
        // should advance (or drop) — surface it in the result AND the
        // log instead of leaving 'manifestsDeleted: 0' unexplained
        val policyFloor = latest - effKeep + 1
        blockers = pins.filter(_._3 < policyFloor).sortBy(_._3).map {
          case (kind, name, w) =>
            s"$kind $name: watermark v$w, ${latest - w} version(s) " +
              s"behind head v$latest, forces ${policyFloor - w} extra " +
              "version(s) retained past the policy"
        }
        blockers.foreach(b => log.warn(s"optimize: vacuum blocked - $b"))
        vacuum(spark, path, math.max(effKeep, pinKeep), effOlder)
      }
    OptimizeResult(before, after, refreshed.toSeq, stale.toSeq,
      analyzed, mans, files,
      viewsRefreshed = mvResults.count(_._2.isRight),
      viewsStale = mvResults.count(_._2.isLeft),
      vacuumBlockers = blockers)
  }

  /** One [[fsck]] finding: severity is "error" (the table will
    * mis-serve or fail reads) or "warn" (degraded acceleration or
    * hygiene). */
  case class FsckIssue(severity: String, what: String)

  /** Metadata integrity check — the ops tool run BEFORE trusting a table
    * after an incident (partial copy, manual file surgery, interrupted
    * external job). Verifies, WITHOUT reading data pages:
    *
    *  - every fragment file the head manifest references exists, and its
    *    on-disk length matches the recorded `bytes` (a truncated copy is
    *    an error before a query trips on it);
    *  - two-level manifests resolve (group refs readable);
    *  - declared NOT NULL rules and the stored schema's nullability
    *    agree (the mis-pair the commit paths exist to prevent);
    *  - bucket tags fall inside the declared spec (and never exist
    *    without one), `sorted` never appears untagged, and spec/cluster
    *    columns exist in the schema;
    *  - index sidecars load and their indexed version does not lie
    *    AHEAD of the table (behind = stale = fine; ahead = corruption);
    *  - stats sidecar columns exist in the schema.
    *
    * Read-only; returns findings, throws nothing (an unreadable table IS
    * a finding). SQL: `CALL lance.fsck('db.t')`.
    */
  def fsck(spark: SparkSession, path: String): Seq[FsckIssue] = {
    import graft.format.LanceFormat
    val root = new org.apache.hadoop.fs.Path(path)
    val issues = scala.collection.mutable.ArrayBuffer.empty[FsckIssue]
    def error(w: String): Unit = issues += FsckIssue("error", w)
    def warn(w: String): Unit = issues += FsckIssue("warn", w)
    val fs = LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val mOpt =
      try LanceFormat.readLatest(fs, root)
      catch { case e: Exception => error(s"head manifest unreadable: $e"); None }
    mOpt.foreach { m =>
      val fields = m.schema.fieldNames.toSet
      // fragment files: existence + recorded size
      m.fragments.foreach { f =>
        val p = LanceFormat.fragmentPath(root, f.file)
        val st = try Some(fs.getFileStatus(p)) catch { case _: Exception => None }
        st match {
          case None => error(s"fragment ${f.file} referenced but missing on disk")
          case Some(status) => f.bytes.foreach { b =>
            if (status.getLen != b) error(
              s"fragment ${f.file}: recorded $b bytes, on disk ${status.getLen} " +
                "(truncated or replaced out of band)")
          }
        }
      }
      // declared NOT NULL vs schema nullability
      LanceFormat.declaredNonNullable(m.checkConstraints).foreach { c =>
        if (!fields.contains(c))
          error(s"NOT NULL rule for '$c' but no such column")
        else if (m.schema(c).nullable)
          error(s"column '$c' declared NOT NULL but stored schema says nullable " +
            "(the schema/rule mis-pair)")
      }
      // layout declarations vs schema and tags
      m.clusterBy.getOrElse(Seq.empty).foreach { c =>
        if (!fields.contains(c)) error(s"cluster spec names missing column '$c'")
      }
      m.bucketBy match {
        case Some(b) =>
          b.columns.foreach { c =>
            if (!fields.contains(c)) error(s"bucket spec names missing column '$c'")
          }
          m.fragments.foreach { f =>
            f.bucket.foreach { t =>
              if (t < 0 || t >= b.numBuckets) error(
                s"fragment ${f.file}: bucket tag $t outside [0, ${b.numBuckets})")
            }
          }
        case None =>
          if (m.fragments.exists(_.bucket.isDefined))
            error("bucket tags present without a bucket spec " +
              "(a later re-declaration would mis-prune)")
      }
      m.fragments.foreach { f =>
        if (f.sorted.isDefined && f.bucket.isEmpty)
          warn(s"fragment ${f.file}: sortedness verdict without a bucket tag")
      }
      // stats sidecar columns
      try graft.format.TableStats.read(fs, root).foreach(_.columns.keys.foreach { c =>
        if (!fields.contains(c))
          warn(s"stats sidecar covers unknown column '$c' (renamed or dropped?)")
      }) catch { case e: Exception => warn(s"stats sidecar unreadable: $e") }
      // index sidecars: loadable, and never AHEAD of the table
      LanceFormat.listIndexSidecars(fs, root).foreach { case (col, kind) =>
        def check(v: Option[Long]): Unit = v.foreach { iv =>
          if (iv > m.version) error(
            s"$kind index on '$col' claims dataset v$iv but the table is at " +
              s"v${m.version} (restored past the index?)")
        }
        try kind match {
          case "scalar" =>
            check(graft.index.ScalarIndex.loadMeta(spark, path, col).datasetVersion)
          case "fts" =>
            check(graft.index.FtsIndex.loadMeta(spark, path, col).datasetVersion)
          case "ivf" =>
            check(graft.index.IvfIndex.loadMeta(spark, path, col).datasetVersion)
          case _ => ()
        } catch {
          case e: Exception => error(s"$kind index sidecar on '$col' unreadable: $e")
        }
      }
      // dependent registrations: each registered view/replica should
      // still exist and still reference THIS table. Dangling entries are
      // WARNs, not errors — but they quietly pin the retention vacuum,
      // so the operator should see them, with the recovery that actually
      // applies to each kind (source/join registrations self-heal via
      // refreshDependents; dim registrations via optimize — except a
      // missing dataset, which may be a CREATE in flight).
      val props = m.properties.getOrElse(Map.empty)
      val myAbs = new java.io.File(path).getAbsolutePath
      val depConf = spark.sessionState.newHadoopConf() // ONE conf, not N
      def depProps(dp: String): Option[Map[String, String]] =
        try {
          val dr = new org.apache.hadoop.fs.Path(dp)
          LanceFormat.readLatest(LanceFormat.fileSystem(dr, depConf), dr)
            .map(_.properties.getOrElse(Map.empty))
        } catch { case _: Exception => None }
      def entries(key: String) =
        props.get(key).toSeq.flatMap(_.split('\n')).filter(_.nonEmpty)
      val roleOf = graft.operators.MaterializedView.roleAndWatermark _
      entries("graft.mv.dependents").foreach { dp =>
        depProps(dp) match {
          case None => warn(s"registered view $dp does not exist or is " +
            "unreadable (crashed create, out-of-band delete, a create in " +
            "flight, or transient IO); dangling registrations self-heal " +
            "on the next maintenance pass and pin retention until then")
          case Some(d)
              if roleOf(d, myAbs).exists(r =>
                r._1 == "source" || r._1 == "join") => ()
          case Some(_) => warn(s"registered view $dp exists but does not " +
            "reference this table as source or join (recreated under the " +
            "same path?); self-heals on the next maintenance pass")
        }
      }
      entries("graft.replica.dependents").foreach { dp =>
        depProps(dp) match {
          case None => warn(s"registered replica $dp does not exist or is " +
            "unreadable; dangling registrations self-heal on the next " +
            "maintenance pass and pin retention until then")
          case Some(d) if d.get("graft.replica.source").exists(p =>
            new java.io.File(p).getAbsolutePath == myAbs) => ()
          case Some(_) => warn(s"registered replica $dp exists but does " +
            "not name this table as its source (recreated under the same " +
            "path?)")
        }
      }
      entries("graft.mv.dim-dependents").foreach { dp =>
        depProps(dp) match {
          case None => warn(s"dim-registered view $dp does not exist or " +
            "is unreadable: if a create is NOT in flight, its mv-pin tag " +
            "holds this dim's vacuum - release by deleting the tag and " +
            "the graft.mv.dim-dependents entry (no automatic heal for a " +
            "missing dataset; a mid-create view must keep its pin)")
          case Some(d)
              if roleOf(d, myAbs).contains(("dim", None)) => ()
          case Some(_) => warn(s"dim-registered view $dp exists but does " +
            "not reference this dim; heals on the next optimize of this " +
            "table")
        }
      }
    }
    issues.toSeq
  }

  /** Reclaim storage: drop all but the newest `keepVersions` manifests and
    * any fragment files they no longer reference. `olderThanMillis` adds
    * the TIME-based retention production policies are written in
    * (Delta/Iceberg `older_than`): a version committed within the last
    * `olderThanMillis` ms survives regardless of count, so long-running
    * readers keep their snapshots; tags and branches stay pinned either
    * way. SQL: `CALL lance.vacuum('db.t', 1, older_than_ms => 86400000)`.
    */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
      olderThanMillis: Option[Long] = None): (Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.vacuum(fs, root, keepVersions, olderThanMillis)
  }

  /** Tag a committed version with a stable name (Lance/Iceberg tags):
    * `version=None` tags the latest. Tagged versions are pinned against
    * [[vacuum]] and readable forever via
    * `spark.read.format("lance").option("tagAsOf", name)` — "the exact
    * snapshot model m trained on", addressable by name. Creating an
    * existing tag fails loud unless `replace=true`. Returns the tagged
    * version.
    */
  def tag(spark: SparkSession, path: String, name: String,
      version: Option[Long] = None, replace: Boolean = false): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.writeTag(fs, root, name, version, replace).version
  }

  /** Drop a tag (the pinned version becomes vacuum-eligible again).
    * Returns whether the tag existed. */
  def deleteTag(spark: SparkSession, path: String, name: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.deleteTag(fs, root, name)
  }

  /** List tags, name-sorted. */
  def tags(spark: SparkSession, path: String): Seq[graft.format.LanceFormat.TagInfo] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.listTags(fs, root)
  }

  /** Add a CHECK constraint (Delta parity): `expr` is a boolean SQL
    * expression over the table's columns; NULL passes (SQL CHECK
    * semantics). All EXISTING rows are validated first — one filtered
    * count — and every subsequent data commit re-validates its own batch
    * before the manifest lands, so a violating ingest fails loud with
    * nothing committed. Returns the committing version.
    */
  def addConstraint(spark: SparkSession, path: String, name: String,
      exprStr: String): Long = {
    require(graft.format.LanceFormat.uniqueColumn(exprStr).isEmpty,
      "uniqueness rules go through addUniqueConstraint / CALL add_unique " +
        "(they validate differently from boolean CHECK expressions)")
    require(!name.startsWith(graft.format.LanceFormat.NotNullPrefix),
      s"rule names starting with '${graft.format.LanceFormat.NotNullPrefix}' " +
        "are reserved for declared NOT NULL columns - use setNotNull / " +
        "CALL set_not_null (they also flip the schema's nullability)")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val m = graft.format.LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path"))
    graft.format.LanceFormat.validateName("constraint", name)
    require(!m.checkConstraints.contains(name),
      s"constraint '$name' already exists on $path")
    def violating(): Long = read(spark, path)
      .filter(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.expr(exprStr),
        org.apache.spark.sql.functions.lit(true)) ===
        org.apache.spark.sql.functions.lit(false))
      .count()
    val bad = violating()
    require(bad == 0L,
      s"cannot add constraint '$name' ($exprStr): $bad existing rows violate it")
    val committed = graft.format.LanceFormat.commitConstraints(fs, root, { cur =>
      require(!cur.contains(name), s"constraint '$name' already exists on $path")
      cur + (name -> exprStr)
    }).version
    // close the validate→commit window from THIS side: a batch committed
    // IN BETWEEN was never checked against this rule (its writer read a
    // manifest without it). committed == m.version+1 proves no
    // interleaving; otherwise re-validate the now-guarded table and roll
    // the rule back on violation. The mirror case — a writer that read
    // its rule set before this commit but LANDS after it — is closed on
    // the WRITER's side: every data commit re-proves rules its manifest
    // carries that it did not enforce, compensating the batch away on
    // violation (LanceWrite.verifyConstraintsPostCommit). Between the
    // two, the invariant holds: a rule in the latest manifest has been
    // validated against every row reachable from it.
    if (committed != m.version + 1 && violating() > 0L) {
      graft.format.LanceFormat.commitConstraints(fs, root, _ - name)
      throw new IllegalArgumentException(
        s"cannot add constraint '$name' ($exprStr): rows violating it were " +
          "committed concurrently during validation - constraint rolled back")
    }
    committed
  }

  /** Declare `column` UNIQUE: validates all EXISTING rows first (one
    * grouped count — duplicates refuse the declaration), then commits the
    * rule (`__unique__:<col>` in the manifest's constraint map — carried
    * through every commit kind like CHECK rules). Every subsequent data
    * commit proves its batch repeats no key internally and collides with
    * none in the table it lands beside; the table side is a PRUNED point
    * probe (manifest stats + scalar index + pushed IN filter), not a
    * scan. NULL keys are exempt (SQL UNIQUE). Racing same-key appends
    * resolve first-committer-wins: the second to land detects the
    * conflict post-commit against exactly the interleaved fragments and
    * rolls itself back in a compensating commit. The same add-time
    * interleaving check as [[addConstraint]] applies. Returns the
    * committing version.
    *
    * Cost note for 100 TB ingest: keep the key column clustered
    * (`write.distribute-by` / Z-order) or scalar-indexed
    * ([[buildScalarIndex]]) so the per-commit probe touches a handful of
    * fragments; unclustered and unindexed, the probe degrades to a
    * pushed-filter scan of the table's footers.
    */
  def addUniqueConstraint(spark: SparkSession, path: String, column: String): Long =
    addUniqueConstraint(spark, path, Seq(column))

  /** Composite-key form: declare `(c1, c2, …)` UNIQUE — the natural-key
    * shape of any real crawl corpus (`(source, doc_id)`). A key with ANY
    * null component is exempt (SQL UNIQUE: nulls never compare equal).
    * Enforcement prunes on the LEAD column (stats + scalar index + pushed
    * IN filter) and confirms collisions on the full tuple with one
    * broadcast-sized semi-join over only the kept fragments — keep the
    * lead column clustered or indexed, and put the most selective column
    * first.
    */
  def addUniqueConstraint(spark: SparkSession, path: String,
      columns: Seq[String]): Long = {
    require(columns.nonEmpty, "UNIQUE needs at least one column")
    require(columns.distinct.size == columns.size,
      s"UNIQUE key repeats a column: ${columns.mkString(", ")}")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val m = graft.format.LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path"))
    val missing = columns.filterNot(m.schema.fieldNames.contains)
    require(missing.isEmpty, s"no column(s) ${missing.mkString(", ")} in $path")
    val keyDesc = columns.mkString(", ")
    val name = s"unique_${columns.mkString("_")}"
    graft.format.LanceFormat.validateName("constraint", name)
    require(!m.checkConstraints.contains(name),
      s"key ($keyDesc) is already UNIQUE on $path")
    val F = org.apache.spark.sql.functions
    def dups(): Long = read(spark, path)
      .filter(columns.map(F.col(_).isNotNull).reduce(_ && _))
      .groupBy(columns.map(F.col): _*).count()
      .filter(F.col("count") > 1).limit(1).count()
    require(dups() == 0L,
      s"cannot declare ($keyDesc) UNIQUE: existing rows repeat key values")
    val committed = graft.format.LanceFormat.commitConstraints(fs, root, { cur =>
      require(!cur.contains(name), s"key ($keyDesc) is already UNIQUE on $path")
      cur + (name ->
        s"${graft.format.LanceFormat.UniquePrefix}${columns.mkString(",")}")
    }).version
    if (committed != m.version + 1 && dups() > 0L) {
      graft.format.LanceFormat.commitConstraints(fs, root, _ - name)
      throw new IllegalArgumentException(
        s"cannot declare ($keyDesc) UNIQUE: duplicate keys were committed " +
          "concurrently during validation - constraint rolled back")
    }
    committed
  }

  /** The reserved rule-name prefix NOT NULL constraints commit under —
    * one namespace, so `lance_constraints` lists them and the generic
    * enforcement points need no special case. The canonical helper lives
    * in [[graft.format.LanceFormat.notNullRuleName]]: every commit path
    * uses the name to tell DECLARED non-nullability (refuse NULLs) from
    * `toDF`-INFERRED (widen on NULLs). */
  private def notNullRule(column: String) =
    graft.format.LanceFormat.notNullRuleName(column)

  /** Declare `column` NOT NULL (Delta `ALTER TABLE ... SET NOT NULL`
    * parity): validates all EXISTING rows first, then ONE metadata commit
    * both records the rule (`<col> IS NOT NULL`, enforced on every data
    * commit like any CHECK constraint) and flips the column's nullability
    * in the stored schema — so Spark's analyzer/optimizer see the
    * non-null guarantee (null-intolerant predicate simplification, join
    * planning) and DESCRIBE shows it. The same post-commit interleaving
    * check as [[addConstraint]] applies. Returns the committing version.
    *
    * The declaration survives EVERY commit kind: data commits re-assert
    * declared non-nullability over the schema they carry (an overwrite's
    * write schema is usually nullable — the commit flips it back, since
    * the rule just proved the new batch null-free), so the rule and the
    * stored schema can never disagree.
    */
  def setNotNull(spark: SparkSession, path: String, column: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val m = graft.format.LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path"))
    require(m.schema.fieldNames.contains(column), s"no column '$column' in $path")
    val name = notNullRule(column)
    require(!m.checkConstraints.contains(name),
      s"column '$column' is already NOT NULL on $path")
    def violating(): Long = read(spark, path)
      .filter(org.apache.spark.sql.functions.col(column).isNull).count()
    val bad = violating()
    require(bad == 0L,
      s"cannot set '$column' NOT NULL: $bad existing rows are null")
    val flip: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType =
      s => org.apache.spark.sql.types.StructType(s.fields.map(f =>
        if (f.name == column) f.copy(nullable = false) else f))
    val committed = graft.format.LanceFormat.commitConstraints(fs, root, { cur =>
      require(!cur.contains(name), s"column '$column' is already NOT NULL on $path")
      cur + (name -> s"`$column` IS NOT NULL")
    }, schemaTransform = Some(flip)).version
    if (committed != m.version + 1 && violating() > 0L) {
      // roll back BOTH halves: the rule and this column's nullability flip
      // (never asNullable — other columns' declarations must survive)
      graft.format.LanceFormat.commitConstraints(fs, root, _ - name,
        schemaTransform = Some(s => org.apache.spark.sql.types.StructType(
          s.fields.map(f =>
            if (f.name == column) f.copy(nullable = true) else f))))
      throw new IllegalArgumentException(
        s"cannot set '$column' NOT NULL: null rows were committed " +
          "concurrently during validation - constraint rolled back")
    }
    committed
  }

  /** Drop a NOT NULL declaration: removes the rule and flips the column
    * back to nullable in one commit. Returns whether it existed. */
  def dropNotNull(spark: SparkSession, path: String, column: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val m = graft.format.LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path"))
    val name = notNullRule(column)
    if (!m.checkConstraints.contains(name)) false
    else {
      val flip: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType =
        s => org.apache.spark.sql.types.StructType(s.fields.map(f =>
          if (f.name == column) f.copy(nullable = true) else f))
      graft.format.LanceFormat.commitConstraints(fs, root, _ - name,
        schemaTransform = Some(flip))
      true
    }
  }

  /** ALTER TABLE RENAME COLUMN — one metadata commit, zero data moved
    * (Delta's column-mapping-by-name shape): the manifest schema carries
    * the new LOGICAL name while every fragment keeps its stable PHYSICAL
    * name; old and new fragments both read through the new name. UNIQUE
    * key components and a declared NOT NULL remap in the same commit;
    * free-form CHECK rules and index sidecars referencing the old name
    * refuse loudly (drop and re-create under the new name). SQL:
    * `ALTER TABLE lance.db.t RENAME COLUMN old TO new` or
    * `CALL lance.rename_column('db.t', 'old', 'new')`. Returns the
    * committing version.
    */
  def renameColumn(spark: SparkSession, path: String, oldName: String,
      newName: String): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.commitRename(fs, root, oldName, newName).version
  }

  /** ALTER TABLE ALTER COLUMN TYPE, widening only — one metadata commit,
    * zero data moved: fragments written before it keep their narrower
    * parquet encoding and the scan up-converts per file (Delta's
    * type-widening shape). Admitted transitions are the value-preserving
    * lattice in [[graft.format.LanceFormat.widensTo]]: byte<short<int<long,
    * float<double, int→double, int/long→decimal(p,0), and decimal
    * precision growth at the same scale. An index sidecar on the column
    * refuses (drop and rebuild after); CHECK/UNIQUE/NOT NULL rules
    * survive unchanged. SQL:
    * `ALTER TABLE lance.db.t ALTER COLUMN c TYPE BIGINT` or
    * `CALL lance.widen_column('db.t', 'c', 'bigint')`. Returns the
    * committing version.
    */
  def widenColumnType(spark: SparkSession, path: String, column: String,
      newType: org.apache.spark.sql.types.DataType): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.commitWiden(fs, root, column, newType).version
  }

  /** [[widenColumnType]] with the type given as DDL text ("bigint",
    * "decimal(20,2)", ...). */
  def widenColumnType(spark: SparkSession, path: String, column: String,
      newTypeDdl: String): Long =
    widenColumnType(spark, path, column,
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(newTypeDdl))

  /** ALTER TABLE ADD COLUMN, optionally with a constant DEFAULT (Iceberg
    * v3 initial-default semantics): one metadata commit, zero data
    * rewritten. Fragments that PHYSICALLY lack the column — everything
    * written before the ADD, plus later writes that omit it via
    * merge-schema — read the default on every scan (Spark's
    * `EXISTS_DEFAULT` field-metadata contract, which the parquet readers
    * fill for missing columns); a fragment that stored an explicit NULL
    * still reads NULL. Without a default, old fragments read NULL as
    * before. Also reachable as SQL
    * `ALTER TABLE lance.db.t ADD COLUMN c BIGINT DEFAULT 42`.
    * Returns the committing version.
    */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      default: Option[String] = None): Long = {
    import graft.format.LanceFormat
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val m = LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path"))
    require(!m.schema.fieldNames.contains(name),
      s"column '$name' already exists at $path")
    require(!m.dropped.contains(name),
      s"column '$name' was previously DROPPED and old fragments still hold " +
        "its data - re-adding the name would resurrect those values " +
        "(rewrite the table first, e.g. compact)")
    require(!m.mapping.values.exists(_ == name),
      s"column name '$name' is the PHYSICAL name of a renamed column - old " +
        "fragments hold its bytes; pick another name")
    val md = default.map(LanceFormat.defaultMetadata(name, dataType, _))
      .getOrElse(org.apache.spark.sql.types.Metadata.empty)
    val merged = LanceFormat.mergeSchemas(m.schema,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true, metadata = md))))
    LanceFormat.commitAppend(fs, root, merged, Seq.empty).version
  }

  /** [[addColumn]] with the type as DDL text ("bigint", "string", ...). */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataTypeDdl: String, default: Option[String]): Long =
    addColumn(spark, path, name,
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(dataTypeDdl),
      default)

  /** Drop a CHECK constraint. Returns whether it existed. */
  def dropConstraint(spark: SparkSession, path: String, name: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val m = graft.format.LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path"))
    if (!m.checkConstraints.contains(name)) false
    else {
      graft.format.LanceFormat.commitConstraints(fs, root, _ - name)
      true
    }
  }

  /** The table's CHECK constraints (name → expr). */
  def constraints(spark: SparkSession, path: String): Map[String, String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.readLatest(fs, root)
      .map(_.checkConstraints).getOrElse(Map.empty)
  }

  /** Create an incremental materialized view over a lance source — a
    * full aggregate plus `graft.mv.*` bookkeeping in ONE commit;
    * [[refreshMaterializedView]] then maintains it from the row-level
    * change feed. See [[graft.operators.MaterializedView]]. */
  def createMaterializedView(spark: SparkSession, viewPath: String,
      sourcePath: String, groupBy: Seq[String],
      aggs: Seq[graft.operators.MaterializedView.AggSpec],
      where: Option[String] = None,
      dims: Seq[graft.operators.MaterializedView.DimSpec] = Seq.empty,
      joins: Seq[graft.operators.MaterializedView.JoinSpec] = Seq.empty): Long =
    graft.operators.MaterializedView.create(spark, viewPath, sourcePath,
      groupBy, aggs, where, dims, joins)

  /** Incremental (or `full = true` rebuild) refresh of a materialized
    * view; state + watermark land in one commit (exactly-once). */
  def refreshMaterializedView(spark: SparkSession, viewPath: String,
      full: Boolean = false): graft.operators.MaterializedView.RefreshResult =
    if (full) graft.operators.MaterializedView.fullRefresh(spark, viewPath)
    else graft.operators.MaterializedView.refresh(spark, viewPath)

  /** Unregister (from its source's dependents) and delete a view. */
  def dropMaterializedView(spark: SparkSession, viewPath: String): Boolean =
    graft.operators.MaterializedView.drop(spark, viewPath)

  /** Every dependent-consumer watermark into this table's history,
    * ATTRIBUTED: (kind, name, watermark) per registered view/replica and
    * per named external consumer — so the vacuum can say WHO pins it,
    * not just how far. Dependents that cannot be read contribute
    * nothing. [[dependentWatermarkPin]] is the min over these. */
  private def dependentPins(spark: SparkSession,
      path: String): Seq[(String, String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val props = graft.format.LanceFormat.readLatest(fs, root)
      .flatMap(_.properties).getOrElse(Map.empty)
    val deps = Seq("graft.mv.dependents", "graft.replica.dependents")
      .flatMap(k => props.get(k).toSeq.flatMap(_.split('\n')))
      .filter(_.nonEmpty)
    val myAbs = new java.io.File(path).getAbsolutePath
    val wms = deps.flatMap { dp =>
      try {
        val dr = new org.apache.hadoop.fs.Path(dp)
        val dfs = graft.format.LanceFormat.fileSystem(dr,
          spark.sessionState.newHadoopConf())
        val dprops = graft.format.LanceFormat.readLatest(dfs, dr)
          .flatMap(_.properties).getOrElse(Map.empty)
        // the dependent's watermark INTO THIS TABLE's history is
        // role-specific: a join view holds one per table (shared parse
        // in MaterializedView.roleAndWatermark); replicas watermark
        // their one source
        graft.operators.MaterializedView.roleAndWatermark(dprops, myAbs)
          .flatMap(_._2).map(w => ("view", dp, w))
          .orElse(dprops.get("graft.replica.version")
            .flatMap(v => scala.util.Try(v.toLong).toOption)
            .map(w => ("replica", dp, w)))
      } catch { case _: Exception => None }
    }
    // named external-consumer pins live on the SOURCE's own properties
    val consumerWms = props.toSeq.collect {
      case (k, v) if k.startsWith("graft.consumer.") =>
        ("consumer", k.stripPrefix("graft.consumer."), v.toLong) }
    wms ++ consumerWms
  }

  /** The oldest source-version watermark among the table's registered
    * dependent consumers: the manifest version the retention vacuum
    * must keep for their next incremental window. */
  private def dependentWatermarkPin(spark: SparkSession,
      path: String): Option[Long] =
    dependentPins(spark, path).map(_._3).minOption

  /** Declare a RETENTION POLICY on the table (stored as
    * `graft.retention.*` properties, one metadata commit):
    * [[optimize]] called WITHOUT an explicit `keepVersions` then
    * vacuums to the policy — the nightly `CALL optimize('t')` becomes
    * fully self-contained for a long-lived table. `keepVersions` < 1
    * clears the policy. `olderThanMs`: versions committed within this
    * horizon survive regardless of count (vacuum's time pin). Returns
    * the committed version. */
  def setRetention(spark: SparkSession, path: String, keepVersions: Int,
      olderThanMs: Long = -1L): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val mutation: Map[String, String] =
      if (keepVersions < 1) Map("graft.retention.keep-versions" -> null,
        "graft.retention.older-than-ms" -> null)
      else Map("graft.retention.keep-versions" -> keepVersions.toString) ++
        (if (olderThanMs >= 0)
          Map("graft.retention.older-than-ms" -> olderThanMs.toString)
        else Map("graft.retention.older-than-ms" -> (null: String)))
    graft.format.LanceFormat.commitProperties(fs, root, mutation).version
  }

  /** The declared retention policy, if any: (keepVersions, olderThanMs
    * — None when unset). */
  def retention(spark: SparkSession, path: String): Option[(Int, Option[Long])] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val props = graft.format.LanceFormat.readLatest(fs, root)
      .flatMap(_.properties).getOrElse(Map.empty)
    props.get("graft.retention.keep-versions").map(_.toInt)
      .map(k => (k, props.get("graft.retention.older-than-ms").map(_.toLong)))
  }

  /** EXTERNAL CHANGEFEED CONSUMER PINS — the Kafka consumer-offset shape
    * for readers OUTSIDE the dependent registry. A downstream pipeline
    * reading `lance_changes`/`lance_changes_net` directly has no
    * registered watermark, so a retention vacuum ([[optimize]]) could
    * reclaim the very manifests its next window needs — the failure mode
    * the view/replica pins already close for internal dependents.
    * [[registerConsumer]] stores a named watermark (`graft.consumer.
    * <name>` property) meaning "consumed THROUGH this version; my next
    * window starts here" — the vacuum then keeps at least back to the
    * oldest live pin (views, replicas AND consumers). [[advanceConsumer]]
    * moves it monotonically after each successfully processed window;
    * [[dropConsumer]] releases the pin. SQL twins:
    * `CALL lance.register_consumer/advance_consumer/drop_consumer`.
    *
    * Returns the registered watermark (the CURRENT version when
    * `fromVersion` < 0 — "consume from now on").
    */
  def registerConsumer(spark: SparkSession, path: String, name: String,
      fromVersion: Long = -1L): Long = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"consumer name '$name' must match [A-Za-z0-9._-]+ (property key)")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val latest = graft.format.LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path")).version
    val wm = if (fromVersion < 0) latest else fromVersion
    require(wm <= latest,
      s"consumer watermark $wm is beyond the current version $latest of $path")
    graft.format.LanceFormat.commitPropertiesWith(fs, root, { prev =>
      prev.get(s"graft.consumer.$name").foreach(cur => require(cur.toLong == wm,
        s"consumer '$name' is already registered at $path with watermark " +
          s"$cur - advanceConsumer moves it, dropConsumer releases it"))
      prev + (s"graft.consumer.$name" -> wm.toString)
    })
    wm
  }

  /** Advance a registered consumer's watermark (monotonic — replays are
    * the consumer's own idempotence problem, but a BACKWARDS move would
    * silently re-pin already-vacuumable history). Returns the new
    * watermark. */
  def advanceConsumer(spark: SparkSession, path: String, name: String,
      toVersion: Long): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    // bounded BOTH ways: backwards would silently re-pin vacuumable
    // history; beyond the head (a typo'd version, an epoch-millis
    // timestamp) would silently RELEASE the pin — the monotonic guard
    // then blocks correcting it, converting one bad call into data loss
    val latest = graft.format.LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path")).version
    require(toVersion <= latest,
      s"consumer '$name' cannot advance to $toVersion: the table is only " +
        s"at version $latest")
    graft.format.LanceFormat.commitPropertiesWith(fs, root, { prev =>
      val cur = prev.getOrElse(s"graft.consumer.$name",
        throw new IllegalArgumentException(
          s"no consumer '$name' registered at $path")).toLong
      require(toVersion >= cur,
        s"consumer '$name' cannot move backwards ($cur -> $toVersion) - " +
          "drop and re-register to rewind deliberately")
      prev + (s"graft.consumer.$name" -> toVersion.toString)
    })
    toVersion
  }

  /** Release a consumer's pin. Returns whether it existed. */
  def dropConsumer(spark: SparkSession, path: String, name: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    var existed = false
    graft.format.LanceFormat.commitPropertiesWith(fs, root, { prev =>
      existed = prev.contains(s"graft.consumer.$name")
      prev - s"graft.consumer.$name"
    })
    existed
  }

  /** Registered consumers and their watermarks. */
  def consumers(spark: SparkSession, path: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.readLatest(fs, root)
      .flatMap(_.properties).getOrElse(Map.empty)
      .collect { case (k, v) if k.startsWith("graft.consumer.") =>
        k.stripPrefix("graft.consumer.") -> v.toLong }
  }

  /** Seed a keyed downstream REPLICA of a lance table (full copy +
    * `graft.replica.*` bookkeeping, one commit); [[syncReplica]] then
    * maintains it from the change feed in changed-rows time. See
    * [[graft.operators.Replica]]. */
  def createReplica(spark: SparkSession, replicaPath: String,
      sourcePath: String, keys: Seq[String]): Long =
    graft.operators.Replica.create(spark, replicaPath, sourcePath, keys)

  /** One incremental replica sync: net-per-key changes from the feed
    * window, one atomic commit carrying the watermark. */
  def syncReplica(spark: SparkSession, replicaPath: String)
      : graft.operators.Replica.SyncResult =
    graft.operators.Replica.sync(spark, replicaPath)

  /** Set free-form TABLE PROPERTIES (Delta TBLPROPERTIES shape): one
    * metadata commit, merged over the current map (concurrent edits
    * compose — see [[graft.format.LanceFormat.commitProperties]]).
    * Keys under the reserved `lance.` / `graft.` namespaces are refused
    * here — those name manifest-backed declarations (cluster spec,
    * constraints, materialized-view bookkeeping) that only their own
    * APIs may change. Returns the committed version. */
  def setProperties(spark: SparkSession, path: String,
      props: Map[String, String]): Long = {
    require(props.nonEmpty, "setProperties: empty map")
    props.keys.foreach { k =>
      require(k.nonEmpty && !k.startsWith("lance.") && !k.startsWith("graft."),
        s"property key '$k' is in a reserved namespace (lance.*/graft.*)")
    }
    props.values.foreach(v => require(v != null,
      "null property value: use unsetProperties to remove a key"))
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.commitProperties(fs, root, props).version
  }

  /** Remove table properties by key (missing keys are a no-op within the
    * commit; reserved namespaces refused like [[setProperties]]).
    * Returns the committed version. */
  def unsetProperties(spark: SparkSession, path: String,
      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "unsetProperties: no keys")
    keys.foreach { k =>
      require(k.nonEmpty && !k.startsWith("lance.") && !k.startsWith("graft."),
        s"property key '$k' is in a reserved namespace (lance.*/graft.*)")
    }
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.commitProperties(fs, root,
      keys.map(_ -> (null: String)).toMap).version
  }

  /** The table's free-form properties (current version). */
  def tableProperties(spark: SparkSession, path: String): Map[String, String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.readLatest(fs, root)
      .flatMap(_.properties).getOrElse(Map.empty)
  }

  /** Columns declared int64-NANOSECOND timestamps at write time
    * (`write.ns-as-long` — the opt-in ns-fidelity mode; the reference
    * stores Timestamp(9) natively, ref:converter/RowDataConverter.java:
    * 228-231, while Spark's TimestampType is µs-only). The default read
    * surfaces these as the LOSSLESS longs they are. */
  def nsColumns(spark: SparkSession, path: String): Seq[String] =
    tableProperties(spark, path)
      .get(graft.format.LanceFormat.PropNsAsLong)
      .toSeq.flatMap(_.split(',')).filter(_.nonEmpty)

  /** Read with every declared ns column CAST to a µs TimestampType —
    * the documented lossy path (floor division toward −∞, the q50
    * contract, via THE one conversion helper
    * [[graft.Tables.nanosToMicrosTs]]). Use the plain read when the
    * sub-µs precision matters; this cast is for joining/windowing
    * against ordinary timestamp columns. */
  def readNsAsTimestamp(spark: SparkSession, path: String): DataFrame = {
    val cols = nsColumns(spark, path)
    cols.foldLeft(spark.read.format("lance").load(path)) { (df, c) =>
      // quote the declared name, escaping any embedded backtick by
      // doubling it — a plain `df(c)` would split dotted names into
      // parts, and a naive col(s"`$c`") is malformed for names that
      // themselves contain '`'
      df.withColumn(c, graft.Tables.nanosToMicrosTs(
        org.apache.spark.sql.functions.col(
          s"`${c.replace("`", "``")}`")))
    }
  }

  /** Create an append-only branch from a committed version (default:
    * latest) — O(one manifest copy), never a data copy. Write to it with
    * `df.write.format("lance").option("write.branch", name)`, read with
    * `option("branch", name)` (versionAsOf/timestampAsOf then address
    * versions WITHIN the branch). Returns the base version.
    */
  def createBranch(spark: SparkSession, path: String, name: String,
      fromVersion: Option[Long] = None): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.createBranch(fs, root, name, fromVersion)
  }

  /** Drop a branch (its unshared data becomes vacuum/GC-reclaimable). */
  def deleteBranch(spark: SparkSession, path: String, name: String): Boolean = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.deleteBranch(fs, root, name)
  }

  /** (name, baseVersion, headVersion) per branch, name-sorted. */
  def branches(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.listBranches(fs, root)
  }

  /** Adopt a branch head on main as one commit — only when main has not
    * advanced past the branch base (the git fast-forward contract).
    * Returns (branchHeadVersion, newMainVersion).
    */
  def fastForward(spark: SparkSession, path: String, name: String,
      expectedHead: Option[Long] = None): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.fastForward(fs, root, name, expectedHead)
  }

  /** Rebase an append-only branch onto main's CURRENT head — the case
    * [[fastForward]] refuses (main advanced past the branch point).
    * Append-only fragments cannot conflict, so the branch-only fragment
    * list is re-committed on top of main in ONE metadata commit — after
    * proving main's CURRENT CHECK constraints (possibly stricter than the
    * fork-time rules the branch enforced) hold over the branch-only rows,
    * and that no dropped-on-main column resurrects. A non-append branch
    * history, a constraint violation, or a concurrent main commit all
    * refuse loudly; re-run after inspecting. Returns
    * (branchHeadVersion, newMainVersion). The branch is left untouched —
    * delete it once adopted.
    */
  def rebaseBranch(spark: SparkSession, path: String, name: String,
      expectedHead: Option[Long] = None): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.rebaseBranch(fs, root, name,
      expectedHead = expectedHead,
      validate = { (mergedSchema, branchOnly) =>
        val main = graft.format.LanceFormat.readLatest(fs, root)
        graft.connector.LanceWrite.enforceConstraints(
          root, mergedSchema, branchOnly,
          main.map(_.checkConstraints).getOrElse(Map.empty),
          // UNIQUE must hold against main's CURRENT fragments too
          tableFrags = main.map(_.fragments).getOrElse(Seq.empty))
      })
  }

  /** Cherry-pick ONE branch commit into main (the git shape): the
    * fragments branch version `version` added over its predecessor
    * append to main by reference — one metadata commit, no data copied,
    * the branch untouched (pick the good commits, delete the branch).
    * Only the picked commit must be an APPEND; main's CURRENT CHECK and
    * UNIQUE constraints are re-proven over the picked rows, exactly like
    * [[rebaseBranch]]. Idempotent: fragments main already references are
    * skipped. Returns (fragmentsAdopted, newMainVersion). */
  def cherryPick(spark: SparkSession, path: String, name: String,
      version: Long): (Int, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.cherryPick(fs, root, name, version,
      validate = { (mergedSchema, picked) =>
        val main = graft.format.LanceFormat.readLatest(fs, root)
        graft.connector.LanceWrite.enforceConstraints(
          root, mergedSchema, picked,
          main.map(_.checkConstraints).getOrElse(Map.empty),
          tableFrags = main.map(_.fragments).getOrElse(Seq.empty))
      })
  }

  /** WRITE-AUDIT-PUBLISH (Iceberg's WAP pattern on branches): audit the
    * branch head against named SQL checks, then adopt it into main —
    * [[fastForward]] when main has not moved since the fork, else
    * [[rebaseBranch]] (append-only adoption, main's constraints
    * re-proven). The staging shape for risky ingest at 100 TB: write a
    * day's batch to a branch, `publishBranch` with the quality bars,
    * and a failed audit leaves main byte-identical — delete the branch
    * or fix and retry; nothing to roll back.
    *
    * `checks`: name → boolean SQL over the BRANCH head; a row where the
    * expression is false OR NULL is a violation (CHECK-constraint
    * semantics). All checks evaluate in ONE scan; any violation refuses
    * the publish with per-check counts. Returns (branchHead,
    * newMainVersion).
    *
    * `quarantine` — the posture most ingest pipelines actually run:
    * instead of refusing the whole batch on any violation, publish the
    * PASSING branch-only rows to main and land the violating rows on a
    * fresh `<name>-quarantine` branch lineage (readable via
    * `option("branch", "<name>-quarantine")`, violations ONLY — no base
    * data) whose commit carries per-check counts as
    * `graft.wap.violations.<check>` properties for inspection. The
    * audited branch is then DROPPED (its rows live on in main +
    * quarantine; keeping it would invite a double publish). A fully
    * clean batch under quarantine publishes by reference like the plain
    * path — the row rewrite is only paid when violations exist.
    */
  def publishBranch(spark: SparkSession, path: String, name: String,
      checks: Map[String, String] = Map.empty,
      quarantine: Boolean = false): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val bp = graft.format.LanceFormat.branchPath(root, name)
    require(fs.exists(bp), s"no branch '$name' at $path")
    // pin the head FIRST: the audit reads exactly this version, and the
    // adoption below refuses if the branch moved past it — a row
    // appended between audit and publish can never land unaudited
    val auditedHead = graft.format.LanceFormat.listVersionsIn(fs, bp).last
    var bad: Seq[(String, Long)] = Seq.empty
    if (checks.nonEmpty) {
      val df = spark.read.format("lance").option("branch", name)
        .option("versionAsOf", auditedHead.toString).load(path)
      val aggs = checks.toSeq.map { case (n, e) =>
        sum(when(expr(e), 0L).otherwise(1L)).as(n) }
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      bad = checks.keys.toSeq.sorted
        .map(n => n -> Option(row.getAs[Any](n)).fold(0L)(_.toString.toLong))
        .filter(_._2 > 0)
      require(bad.isEmpty || quarantine, s"publish of branch '$name' refused: audit " +
        s"check(s) failed — ${bad.map { case (n, c) => s"$n ($c rows)" }
          .mkString(", ")}; main is untouched (quarantine=true publishes " +
        "the passing rows and stages these for inspection)")
    }
    val vs = graft.format.LanceFormat.listVersionsIn(fs, bp)
    val base = vs.head
    val mainV = graft.format.LanceFormat.readLatest(fs, root).map(_.version)
      .getOrElse(throw new IllegalStateException(s"no dataset at $path"))
    if (bad.nonEmpty) {
      // ---- quarantine split: branch-only rows divide by the audited
      // conjunction; fragments can't adopt by reference once split.
      // The split reasons per-fragment, so it needs the SAME append-only
      // lineage proof rebase runs — a branch commit that replaced a
      // fork-time fragment would otherwise double-publish its rows.
      val baseFrags = graft.format.LanceFormat.requireAppendOnlyBranch(
        fs, bp, name, "quarantine-publish", Some(vs))
      // the fork-point manifest comes from the BRANCH's own lineage —
      // main's copy of that version may be legitimately vacuumed
      val bm = graft.format.LanceFormat.readManifestIn(fs, bp, auditedHead)
      val baseFiles = baseFrags.map(_.file).toSet
      val branchOnly = bm.fragments.filterNot(f => baseFiles.contains(f.file))
      require(branchOnly.nonEmpty, s"branch '$name' has violations but no " +
        "branch-only fragments - the violations predate the fork; audit main")
      val raw = spark.read.schema(bm.physicalSchema).parquet(
        branchOnly.map(f =>
          graft.format.LanceFormat.fragmentPath(root, f.file).toString): _*)
      val rows = if (bm.mapping.isEmpty) raw
        else raw.toDF(bm.schema.fieldNames.toIndexedSeq: _*)
      val pass = checks.values.toSeq
        .map(e => coalesce(expr(e), lit(false))).reduce(_ && _)
      // every violation must be attributable to a BRANCH-ONLY row: the
      // audit above scanned the whole lineage (base + branch), so a
      // count exceeding what the split can stage means PRE-FORK data in
      // main already violates — publishing while quarantining nothing
      // would mask it and leave props disagreeing with the staged rows.
      // Refuse loud, like the no-branch-fragments case.
      val bAggs = checks.toSeq.map { case (n, e) =>
        sum(when(expr(e), 0L).otherwise(1L)).as(n) }
      val bRow = rows.agg(bAggs.head, bAggs.tail: _*).collect()(0)
      bad.foreach { case (n, c) =>
        val own = Option(bRow.getAs[Any](n)).fold(0L)(_.toString.toLong)
        require(own == c, s"check '$n': $c violation(s) in the audited " +
          s"lineage but only $own in branch-only rows - the rest predate " +
          "the fork; audit main (quarantine stages branch rows only)")
      }
      // this publish is NOT atomic (quarantine write, then main append,
      // then branch drop): a marker in the branch dir records the
      // attempt AFTER every read-only validation — carrying a unique
      // token, the audited head and the check expressions — so a crash
      // anywhere in the three-commit sequence is RESUMABLE:
      // `CALL resume_publish` re-runs the split idempotently from the
      // marker (each commit stamps the token, so resume recognizes what
      // already landed). A re-run of publish itself still refuses loud.
      val marker = new org.apache.hadoop.fs.Path(bp, "_quarantine_publish")
      require(!fs.exists(marker),
        s"a previous quarantine publish of branch '$name' started and did " +
          s"not finish: CALL resume_publish('<table>', '$name') lands " +
          "exactly the passing subset once. To abandon the batch instead, " +
          "deleteBranch (NOT just the marker - re-publishing under a fresh " +
          "token would double-land rows the crashed attempt already " +
          s"published; graft.wap.last-publish.$name on main records " +
          "whether its append landed)")
      val token = java.util.UUID.randomUUID().toString
      locally {
        val out = fs.create(marker, false)
        out.write(org.json4s.jackson.Serialization.write(QuarantineMarker(
          token, auditedHead, checks))(markerFormats).getBytes("UTF-8"))
        out.close()
      }
      // the attribution check above already aggregated the per-check
      // counts over the branch-only rows: pass them through so the
      // publish path pays that scan once (resume has none and recomputes)
      quarantineLand(spark, path, name, checks, auditedHead, token,
        knownBad = Some(bad))
    }
    // the adoption is PINNED to the audited head: rows appended to the
    // branch after the audit scan must not publish unaudited — the
    // adoption refuses and the caller re-audits
    else if (mainV == base) fastForward(spark, path, name, Some(auditedHead))
    else rebaseBranch(spark, path, name, Some(auditedHead))
  }

  /** What a `_quarantine_publish` marker records: enough to re-run the
    * three-commit split deterministically after a crash. */
  private case class QuarantineMarker(token: String, auditedHead: Long,
      checks: Map[String, String])
  private implicit val markerFormats: org.json4s.Formats =
    org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)

  /** The quarantine split's three commits, each IDEMPOTENT under the
    * marker's token: (1) stage the violating branch-only rows on
    * `<name>-quarantine` (skipped when that lineage's head already
    * carries the token), (2) append the passing rows to main (skipped
    * when main's `graft.wap.last-publish.<name>` property carries the
    * token), (3) drop the audited branch — which removes the marker, so
    * a completed split leaves nothing to resume. Shared by the publish
    * path and [[resumePublish]]; every recompute is read-only over the
    * PINNED audited head, so publish and resume land byte-identical
    * rows. */
  private def quarantineLand(spark: SparkSession, path: String, name: String,
      checks: Map[String, String], auditedHead: Long, token: String,
      knownBad: Option[Seq[(String, Long)]] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val bp = graft.format.LanceFormat.branchPath(root, name)
    val vs = graft.format.LanceFormat.listVersionsIn(fs, bp)
    require(vs.nonEmpty && vs.last == auditedHead,
      s"branch '$name' is not at the audited head $auditedHead " +
        s"(now ${vs.lastOption.getOrElse(-1L)}): rows appended after the " +
        "audit must not publish unaudited. Inspect the post-audit " +
        s"commits; graft.wap.last-publish.$name on main records whether " +
        "the audited passing subset already landed - if it did, " +
        "deleteBranch finishes the crashed publish (the extra rows need " +
        "their own publish_branch from a fresh branch); if not, restore " +
        "the branch to the audited head and resume_publish")
    val baseFrags = graft.format.LanceFormat.requireAppendOnlyBranch(
      fs, bp, name, "quarantine-publish", Some(vs))
    val bm = graft.format.LanceFormat.readManifestIn(fs, bp, auditedHead)
    val baseFiles = baseFrags.map(_.file).toSet
    val branchOnly = bm.fragments.filterNot(f => baseFiles.contains(f.file))
    val raw = spark.read.schema(bm.physicalSchema).parquet(
      branchOnly.map(f =>
        graft.format.LanceFormat.fragmentPath(root, f.file).toString): _*)
    val rows = if (bm.mapping.isEmpty) raw
      else raw.toDF(bm.schema.fieldNames.toIndexedSeq: _*)
    val pass = checks.values.toSeq
      .map(e => coalesce(expr(e), lit(false))).reduce(_ && _)
    // ---- (1) violations, on a violations-only lineage
    val qname = s"$name-quarantine"
    val qp = graft.format.LanceFormat.branchPath(root, qname)
    val staged = fs.exists(qp) &&
      graft.format.LanceFormat.listVersionsIn(fs, qp).lastOption
        .map(graft.format.LanceFormat.readManifestIn(fs, qp, _))
        .exists(_.properties.getOrElse(Map.empty)
          .get("graft.wap.publish-token").contains(token))
    if (!staged) {
      val badNow = knownBad.getOrElse {
        val bAggs = checks.toSeq.map { case (n, e) =>
          sum(when(expr(e), 0L).otherwise(1L)).as(n) }
        val bRow = rows.agg(bAggs.head, bAggs.tail: _*).collect()(0)
        checks.keys.toSeq.sorted
          .map(n => n -> Option(bRow.getAs[Any](n)).fold(0L)(_.toString.toLong))
          .filter(_._2 > 0)
      }
      if (!fs.exists(qp)) fs.mkdirs(qp)
      rows.filter(!pass).write.format("lance")
        .option("write.branch", qname)
        .option("write.set-properties",
          graft.format.LanceFormat.serializeProperties(
            badNow.map { case (n, c) => s"graft.wap.violations.$n" -> c.toString }
              .toMap ++ Map("graft.wap.audited-head" -> auditedHead.toString,
                "graft.wap.publish-token" -> token)))
        .mode("append").save(path)
    }
    // ---- (2) passing rows into main, once
    require(graft.format.LanceFormat.listVersionsIn(fs, bp).last == auditedHead,
      s"branch '$name' moved past the audited head $auditedHead during " +
        "the quarantine split - main is untouched; staged violations sit " +
        s"on '$qname'; resume_publish('<table>', '$name') after inspection")
    val prevTok = graft.format.LanceFormat.readLatest(fs, root)
      .flatMap(_.properties).getOrElse(Map.empty)
      .get(s"graft.wap.last-publish.$name")
    if (!prevTok.contains(token))
      rows.filter(pass).write.format("lance")
        .option("write.set-properties",
          graft.format.LanceFormat.serializeProperties(
            Map(s"graft.wap.last-publish.$name" -> token)))
        // CAS on the token's observed pre-state (null = must still be
        // absent): two concurrent resume_publish calls can both observe
        // published=false here, and without the guard both would append —
        // double-landing the passing subset on main. With it the losing
        // committer fails loud (ConcurrentModificationException) instead.
        .option("write.require-properties",
          graft.format.LanceFormat.serializeProperties(
            Map(s"graft.wap.last-publish.$name" -> prevTok.orNull)))
        .mode("append").save(path)
    // ---- (3) the audited branch's rows now live in main + quarantine:
    // drop it (and with it the marker) so nothing can double-land
    deleteBranch(spark, path, name)
    val newMain = graft.format.LanceFormat.readLatest(fs, root)
      .map(_.version).getOrElse(0L)
    (auditedHead, newMain)
  }

  /** Resume a crashed quarantine publish from its `_quarantine_publish`
    * marker: re-runs the split idempotently (staged rows are recognized
    * by the marker's token on the quarantine head; the main append by
    * the token in `graft.wap.last-publish.<branch>`), so the passing
    * subset lands exactly once however far the original got. A branch
    * with no marker has nothing to resume; a missing branch means the
    * publish COMPLETED (its final step deletes the branch). */
  def resumePublish(spark: SparkSession, path: String, name: String)
      : (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val bp = graft.format.LanceFormat.branchPath(root, name)
    require(fs.exists(bp), s"no branch '$name' at $path - a finished " +
      "quarantine publish deletes its branch, so there is nothing to resume")
    val marker = new org.apache.hadoop.fs.Path(bp, "_quarantine_publish")
    require(fs.exists(marker), s"branch '$name' carries no " +
      "_quarantine_publish marker: no interrupted publish to resume")
    val content = {
      val in = fs.open(marker)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, "UTF-8")
      } finally in.close()
    }
    val m = try org.json4s.jackson.Serialization
      .read[QuarantineMarker](content)(markerFormats,
        scala.reflect.Manifest.classType(classOf[QuarantineMarker]))
    catch {
      case _: Exception => throw new IllegalArgumentException(
        s"marker $marker carries no resume state (pre-resume format or " +
          "corrupt): verify what landed on main and " +
          s"'$name-quarantine' manually, then delete the branch")
    }
    quarantineLand(spark, path, name, m.checks, m.auditedHead, m.token)
  }

  /** RESTORE (Delta `RESTORE TABLE` parity): make the CURRENT table state
    * equal `version`'s fragment list, committed as a NEW version —
    * history is preserved (time travel to the undone versions still
    * works; `vacuum` decides retention later). The restored fragments are
    * referenced by identity, so the commit is metadata-only, O(manifest),
    * regardless of table size — the after-a-bad-DML escape hatch a
    * long-lived 100 TB corpus needs. Fails loud when any restored
    * fragment file was already vacuumed. The commit is marked
    * `operation="restore"` — row-CHANGING for changefeed readers (rows
    * deleted since `version` logically come back).
    * Returns (restoredVersion, newVersion); a restore to the current
    * state is a no-op committing nothing (newVersion = current).
    */
  def restore(spark: SparkSession, path: String, version: Long): (Long, Long) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val target = graft.format.LanceFormat.readManifest(fs, root, version)
    val latest = graft.format.LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalStateException(s"no dataset at $path"))
    if (latest.fragments.map(_.file) == target.fragments.map(_.file) &&
        latest.schemaJson == target.schemaJson &&
        latest.constraints == target.constraints &&
        latest.properties == target.properties &&
        latest.clusterBy == target.clusterBy &&
        latest.bucketBy == target.bucketBy &&
        latest.bloomFilters == target.bloomFilters)
      return (version, latest.version) // already that state: commit nothing
    val missing = target.fragments.filterNot(f =>
      fs.exists(graft.format.LanceFormat.fragmentPath(root, f.file)))
    require(missing.isEmpty,
      s"cannot restore $path to version $version: fragment files " +
        s"${missing.map(_.file).mkString(", ")} were vacuumed — " +
        "restore targets must be within the vacuum retention window")
    // restore returns to the TARGET's whole state: rules and properties
    // added after it were judged against data being undone, and the
    // mapping travels with the schema it names. But replay guards are
    // monotonic per query: keep the head's map (re-read on every commit
    // attempt), or a replayed epoch would re-land onto the restored state
    val committed = graft.format.LanceFormat.transact(fs,
        graft.format.LanceFormat.versionsPath(root), Some("restore"),
        prevHint = Some(Some(latest))) { prev =>
      target.copy(epochId = prev.flatMap(_.epochId),
        streamEpochs = prev.flatMap(_.streamEpochs), changeFiles = None)
    }
    (version, committed.version)
  }

  /** Zero-copy SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`,
    * Iceberg's snapshot-ref shape): create a NEW dataset at `dstPath`
    * whose first manifest references the source version's fragment files
    * in place — fully-qualified external URIs, zero data copied, one
    * manifest write however large the source. The clone then lives its
    * own life: appends land as local fragments, copy-on-write DML
    * replaces touched external fragments with local rewrites, and
    * [[compact]] materializes everything local. Carried from the source
    * version: schema, CHECK/UNIQUE/NOT NULL rules, column mapping,
    * cluster spec, dropped-column tombstones. NOT carried: streaming
    * replay guards (a fresh table has no write history) and index
    * sidecars (build against the clone when needed).
    *
    * Contract shared with Delta: the clone BORROWS the source's files.
    * The clone's own vacuum/rollback never deletes an external
    * reference, but a vacuum on the SOURCE that drops the cloned
    * version's files breaks the clone — tag the source version (tags pin
    * against vacuum) for a durable clone.
    *
    * At 100 TB this is the difference between an experiment branch
    * costing one manifest write and costing a full table copy.
    */
  def cloneTable(spark: SparkSession, srcPath: String, dstPath: String,
      version: Option[Long] = None): Long = {
    val srcRoot = new org.apache.hadoop.fs.Path(srcPath)
    val conf = spark.sessionState.newHadoopConf()
    val srcFs = graft.format.LanceFormat.fileSystem(srcRoot, conf)
    val src = version match {
      case Some(v) => graft.format.LanceFormat.readManifest(srcFs, srcRoot, v)
      case None => graft.format.LanceFormat.readLatest(srcFs, srcRoot).getOrElse(
        throw new IllegalArgumentException(s"no lance dataset at $srcPath"))
    }
    val dstRoot = new org.apache.hadoop.fs.Path(dstPath)
    val dstFs = graft.format.LanceFormat.fileSystem(dstRoot, conf)
    // fully-qualified URIs: unambiguous on any store, and recognizably
    // external ([[graft.format.LanceFormat.isExternalRef]]) so deletion
    // paths skip them
    val borrowed = src.fragments.map { f =>
      f.copy(file = srcFs.makeQualified(
        graft.format.LanceFormat.fragmentPath(srcRoot, f.file)).toString)
    }
    val committed = graft.format.LanceFormat.transact(dstFs,
        graft.format.LanceFormat.versionsPath(dstRoot), Some("clone")) { prev =>
      // refused on every attempt: a clone that lost the publish must not
      // land the borrowed fragment list over the winner's table
      require(prev.isEmpty, s"clone target already exists at $dstPath")
      dstFs.mkdirs(graft.format.LanceFormat.dataPath(dstRoot))
      // a fresh table has no write history (epochs) and its own chunks
      src.copy(fragments = borrowed, epochId = None, streamEpochs = None,
        changeFiles = None, fragmentGroups = None)
    }
    committed.version
  }

  /** Build the scalar point-lookup index (value → fragment postings) for
    * a high-cardinality column — the pruning layer manifest stats can't
    * provide for unclustered point lookups ([[graft.index.ScalarIndex]]).
    * The scan path consults it automatically for pushed `=` / `IN`
    * filters; disable per-session with
    * `spark.graft.scalarindex.enabled=false`.
    */
  def buildScalarIndex(spark: SparkSession, path: String, column: String,
      numBuckets: Int = graft.index.ScalarIndex.DefaultBuckets)
      : graft.index.ScalarIndex.ScalarMeta =
    graft.index.ScalarIndex.build(spark, path, column, numBuckets)

  /** Delta-refresh the scalar index: postings for fragments appended
    * since the last build/refresh only (appends stay correct without a
    * refresh — uncovered fragments are never pruned — refresh just
    * restores pruning power over them). */
  def refreshScalarIndex(spark: SparkSession, path: String, column: String)
      : graft.index.ScalarIndex.ScalarMeta =
    graft.index.ScalarIndex.refresh(spark, path, column)

  /** Drop a persisted index sidecar for `column` — the lifecycle
    * complement of buildIndex / FtsIndex.build / ScalarIndex.build /
    * refresh / the `lance_indexes` listing. `kind`: `ivf` (vector index,
    * including any HNSW graph under it), `fts`, `scalar`, or `all`
    * (default). Session meta caches are evicted so a dropped index can
    * never serve a stale search. Returns the number of sidecar
    * directories removed.
    */
  def dropIndex(spark: SparkSession, path: String, column: String,
      kind: String = "all"): Int = {
    require(Set("all", "ivf", "fts", "scalar").contains(kind),
      s"dropIndex kind must be all|ivf|fts|scalar, got $kind")
    val conf = spark.sessionState.newHadoopConf()
    var removed = 0
    def drop(ip: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(ip)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) { fs.delete(p, true); removed += 1 }
    }
    if (kind == "all" || kind == "ivf") {
      drop(graft.index.IvfIndex.indexPath(path, column))
      graft.index.IvfIndex.evictMeta(spark, path, column)
    }
    if (kind == "all" || kind == "fts") {
      drop(graft.index.FtsIndex.indexPath(path, column))
      graft.index.FtsIndex.evictMeta(spark, path, column)
    }
    if (kind == "all" || kind == "scalar") {
      drop(graft.index.ScalarIndex.indexPath(path, column))
      graft.index.ScalarIndex.evictMeta(spark, path, column)
    }
    removed
  }

  /** Reclaim crash-leftover data files no retained manifest references
    * (vacuum's complement: vacuum drops files old VERSIONS referenced,
    * this drops files NOTHING ever committed). `graceMinutes` shields an
    * in-flight writer's staged-but-uncommitted files — a writer that
    * stages data LONGER than the grace before committing its manifest
    * would have those files deleted out from under its commit, so the
    * default is 3 days (Iceberg's remove_orphan_files default, chosen for
    * exactly this race); never run with a short grace concurrently with
    * writes that could outlive it.
    * Returns (files scanned, orphans deleted).
    */
  def removeOrphans(spark: SparkSession, path: String,
      graceMinutes: Int = 3 * 24 * 60): (Int, Int) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.removeOrphans(fs, root, graceMinutes * 60000L)
  }

  /** Z-order bucket resolution per clustering column: 4 bits (16
    * quantile buckets) per dimension — with 2 columns that is a 256-cell
    * grid, far finer than any realistic fragment count, so resolution
    * never limits pruning; it only bounds the CASE-chain size in the
    * rewrite expression.
    */
  private val ZBits = 4

  /** OPTIMIZE ZORDER: rewrite the dataset ordered by the interleaved
    * quantile-bucket bits of `cols`, so every fragment covers a narrow
    * range of EVERY clustering column at once and the manifest min/max
    * stats ([[graft.format.FragmentStats]]) prune selective filters on
    * any of them. A single-column sort only clusters its leading column;
    * Z-ordering is how Delta/Iceberg make multi-dimension data skipping
    * work, re-expressed Spark-first:
    *
    *  1. one `approxQuantile` sketch pass computes 15 cut points per
    *     column (driver-side, KB-sized — no sort);
    *  2. each row's bucket ids are interleaved bit-by-bit into a z-value
    *     by a pure codegen'd expression (CASE chain + shifts);
    *  3. `repartitionByRange(z)` + in-partition sort rewrite the data as
    *     a new MVCC version — the same shuffle any OPTIMIZE pays, with
    *     stats regenerated per fragment by the writer.
    *
    * Returns (fragments before, fragments after).
    */
  def cluster(spark: SparkSession, path: String, cols: Seq[String],
      maxRowsPerFile: Long = 1000000L): (Int, Int) = {
    require(cols.nonEmpty && cols.size <= 8, s"cluster on 1..8 columns, got ${cols.size}")
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val manifest = graft.format.LanceFormat.readLatest(fs, root)
    val before = manifest.map(_.fragments.size).getOrElse(0)
    val df = read(spark, path)
    cols.foreach { c =>
      require(df.columns.contains(c), s"no column '$c' in $path")
      require(df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"cluster column '$c' must be numeric (got " +
          s"${df.schema(c).dataType.simpleString}); cast dates/timestamps first")
    }

    val z = zValueColumn(df, cols)

    val rows = manifest.map(_.rowCount).getOrElse(0L)
    val targetParts = math.max(1L, (rows + maxRowsPerFile - 1) / maxRowsPerFile).toInt
    val w = df.withColumn("__z", z)
      .repartitionByRange(targetParts, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.format("lance")
      .option("write.max-rows-per-file", maxRowsPerFile.toString)
      // the z-layout above IS the distribution - skip the clustered-table
      // default range shuffle the write would otherwise plan on top
      .option("write.distribution-mode", "none")
      .option("write.operation", "rewrite") // row-preserving: changefeeds skip it
    manifest.flatMap(_.epochId).fold(w)(e => w.option("write.epoch-id", e.toString))
      .mode("overwrite").save(path)
    // DECLARE the spec (one metadata commit): every later [[compact]] /
    // [[compactSmall]] re-establishes this order instead of destroying
    // it — nobody re-runs OPTIMIZE ZORDER by hand at 100 TB
    graft.format.LanceFormat.commitClusterBy(fs, root, cols)
    val after = graft.format.LanceFormat.readLatest(fs, root)
      .map(_.fragments.size).getOrElse(0)
    (before, after)
  }

  /** The declared clustering spec ([[cluster]]); empty when none. */
  def clusterSpec(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.readLatest(fs, root)
      .flatMap(_.clusterBy).getOrElse(Seq.empty)
  }

  /** CLUSTER BY hash bucket — the storage-partitioned-join layout
    * (Iceberg's `bucket(n, col)` transform, re-expressed for this
    * format): declares `pmod(murmur3(cols), numBuckets)` routing in the
    * manifest and rewrites the table so every fragment holds exactly one
    * bucket. From then on
    *
    *  - every write (append, streaming epoch, DML rewrite, compaction)
    *    routes rows per bucket in the task writer, so purity is an
    *    invariant, not a convention;
    *  - the scan reports Spark's `KeyGroupedPartitioning` over
    *    `bucket(n, cols)` (when `spark.sql.sources.v2.bucketing.enabled`
    *    is set), so TWO tables bucketed on the same key with the same
    *    count JOIN WITH ZERO SHUFFLE — at 100 TB the shuffle of the fact
    *    side IS the query cost, and this removes it;
    *  - an `=`/`IN` filter on a single bucket column prunes fragments to
    *    the literals' buckets at the manifest (driver-side, no I/O).
    *
    * Empty `cols` clears the declaration. ANY spec change (clear,
    * re-declare with a different count or key) also clears the
    * per-fragment bucket tags in the same commit — tags computed under
    * the old spec read through a new one would mis-prune and mis-align
    * joins; the routing rewrite re-tags everything. Mutually exclusive
    * with the z-order [[cluster]] spec. Returns (fragments before, after).
    */
  /** Re-route every fragment carrying NO bucket tag under the table's
    * DECLARED layout — the ops verb for bucket-layout evolution.
    * Re-declaring a spec ([[clusterByBucket]] with new (n, cols), or
    * `CALL cluster_by_bucket`) clears every stale tag, which is correct
    * but conservative: the table joins with full shuffles until its
    * fragments are re-routed, and [[compactSmall]] only packs the small
    * tail. One `rebucket` reads EXACTLY the untagged fragments (I/O ∝
    * what needs re-routing — after a re-declaration that is the whole
    * table; after a rebase adoption or a non-routing writer, just those
    * fragments), routes them per row under the current spec key-sorted
    * per bucket, and swaps them in one row-preserving commit; tagged
    * fragments are untouched. Storage-partitioned joins engage again
    * once every scanned fragment carries a tag. Returns
    * (untagged before, untagged after) — after must be 0.
    */
  def rebucket(spark: SparkSession, path: String,
      maxRowsPerFile: Long = 1000000L): (Int, Int) = {
    import org.apache.spark.sql.functions.{col => c}
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val m = graft.format.LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path"))
    val spec = m.bucketBy.getOrElse(throw new IllegalArgumentException(
      s"no bucket layout declared at $path - declare one first " +
        "(clusterByBucket / CALL cluster_by_bucket)"))
    val untagged = m.fragments.filter(_.bucket.isEmpty)
    if (untagged.isEmpty) return (0, 0)
    val df = locally {
      val raw = spark.read.schema(m.physicalSchema)
        .parquet(untagged.map(f =>
          graft.format.LanceFormat.fragmentPath(root, f.file).toString): _*)
      if (m.mapping.isEmpty) raw else raw.toDF(m.schema.fieldNames.toIndexedSeq: _*)
    }
    val be = graft.format.BucketHash.bucketColumn(spec.columns, spec.widthsVec)
    df.repartition(math.min(graft.format.BucketHash.totalTags(
        spec.widthsVec), 4096L).toInt, be)
      .sortWithinPartitions(be +: spec.columns.map(c): _*)
      .write.format("lance")
      .option("write.replace-fragments", untagged.map(_.id).mkString(","))
      .option("write.distribution-mode", "none") // already bucket-laid
      .option("write.operation", "rewrite") // row-preserving: feeds skip it
      .option("write.max-rows-per-file", maxRowsPerFile.toString)
      .mode("append").save(path)
    val after = graft.format.LanceFormat.readLatest(fs, root)
      .map(_.fragments.count(_.bucket.isEmpty)).getOrElse(0)
    (untagged.size, after)
  }

  /** `widths` (optional) declares PER-COLUMN bucket counts — Iceberg's
    * `bucket(8, tenant), bucket(32, key)` layout for a low-cardinality ×
    * high-cardinality composite key; empty means `numBuckets` for every
    * column (the original surface, on-disk-identical). */
  def clusterByBucket(spark: SparkSession, path: String, cols: Seq[String],
      numBuckets: Int, maxRowsPerFile: Long = 1000000L,
      widths: Seq[Int] = Seq.empty): (Int, Int) = {
    import org.apache.spark.sql.functions._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val manifest = graft.format.LanceFormat.readLatest(fs, root)
    val before = manifest.map(_.fragments.size).getOrElse(0)
    // declare FIRST: the rewrite's task writers read the spec off the
    // lineage head and route/tag their fragments
    graft.format.LanceFormat.commitBucketBy(fs, root, numBuckets, cols, widths)
    if (cols.isEmpty) return (before, before)
    val df = read(spark, path)
    // co-locate each bucket into one task (writer routing makes purity
    // true regardless; this just keeps file counts ~numBuckets). The
    // rewrite expression IS the declared function: pmod(hash(cols), n).
    // Rows sort by (bucket, key...) within tasks, so every bucket file
    // is internally KEY-SORTED — parquet row groups then prune point
    // probes inside the bucket, the second level of the lookup path.
    val wv = if (widths.nonEmpty) widths else Seq.fill(cols.size)(numBuckets)
    val bucketExpr = graft.format.BucketHash.bucketColumn(cols, wv)
    val w = df.repartition(math.min(
        graft.format.BucketHash.totalTags(wv), 4096L).toInt, bucketExpr)
      .sortWithinPartitions(bucketExpr +: cols.map(col): _*)
      .write.format("lance")
      .option("write.max-rows-per-file", maxRowsPerFile.toString)
      // this repartition IS the bucket distribution - opt out of the
      // engine-planned default so the rewrite shuffles once, not twice
      .option("write.distribution-mode", "none")
      .option("write.operation", "rewrite") // row-preserving: changefeeds skip it
    manifest.flatMap(_.epochId).fold(w)(e => w.option("write.epoch-id", e.toString))
      .mode("overwrite").save(path)
    val after = graft.format.LanceFormat.readLatest(fs, root)
      .map(_.fragments.size).getOrElse(0)
    (before, after)
  }

  /** Declare (or clear, with an empty list) parquet BLOOM FILTER columns:
    * every fragment written from now on (append, streaming epoch, DML
    * rewrite, compaction) carries an adaptive per-row-group bloom filter
    * for each named column, which the scan applies to pushed `=`/`IN`
    * predicates — row groups provably not holding the probed value are
    * skipped without reading data pages. This is THE skipping layer for
    * high-cardinality point lookups (a UUID, a document id) where
    * min/max bounds admit everything, value sets refuse to store, and a
    * scalar-index sidecar is more maintenance than wanted: at 100 TB a
    * `WHERE doc_id = X` touches only the row groups whose filter says
    * maybe, at ~1 byte/distinct-value of footer overhead. Existing
    * fragments gain filters at the next `compact()` (declaration ≠
    * rewrite, the Delta/Iceberg posture). One metadata commit; the
    * declaration self-heals on DROP, remaps on RENAME, and surfaces as
    * `lance.bloom-filters` in SHOW TBLPROPERTIES. Returns the committed
    * version.
    */
  def setBloomFilters(spark: SparkSession, path: String,
      cols: Seq[String]): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.commitBloomFilters(fs, root, cols).version
  }

  /** The declared bloom-filter columns ([[setBloomFilters]]); empty when
    * none. */
  def bloomFilterColumns(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.readLatest(fs, root)
      .flatMap(_.bloomFilters).getOrElse(Seq.empty)
  }

  /** The declared bucket layout ([[clusterByBucket]]); None when none. */
  def bucketSpec(spark: SparkSession, path: String): Option[graft.format.BucketSpecMeta] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = graft.format.LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    graft.format.LanceFormat.readLatest(fs, root).flatMap(_.bucketBy)
  }

  /** ANALYZE TABLE: per-column NDV (HyperLogLog, ~1.6% error) + byte
    * lengths into the `_stats/table_stats.json` sidecar, which the scan
    * serves to Spark's CBO as DSv2 `columnStats` — distinct counts are
    * what join reordering and build-side choice run on, and a bytes-only
    * guess misorders a 3-table join the moment the middle table is wide.
    *
    * INCREMENTAL by sketch algebra: when the previously analyzed version
    * is still readable and every file it covered is still present (pure
    * appends since), only the NEW fragments are scanned and their
    * sketches merged in — re-analyze cost is proportional to fresh data,
    * the only shape that survives a 100 TB table with a daily ANALYZE.
    * Any rewrite since (DML, compaction, overwrite) falls back to a full
    * recompute: HLL unions never shrink, so a sketch cannot un-learn
    * deleted rows. Returns the per-column NDV estimates.
    */
  def analyze(spark: SparkSession, path: String,
      columns: Seq[String] = Seq.empty,
      histograms: Boolean = false): Map[String, Long] = {
    import graft.format.{HllSketch, LanceFormat, TableStats}
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val m = LanceFormat.readLatest(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $path"))
    val targets: Seq[String] =
      if (columns.nonEmpty) {
        columns.foreach { c =>
          val f = m.schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(s"no column '$c' at $path"))
          require(TableStats.eligible(f.dataType),
            s"column '$c' (${f.dataType.simpleString}) is not analyzable")
        }
        columns
      } else m.schema.fields.filter(f => TableStats.eligible(f.dataType))
        .map(_.name).toSeq
    if (targets.isEmpty || m.fragments.isEmpty) {
      TableStats.write(fs, root, graft.format.TableStatsMeta(
        m.version, System.currentTimeMillis(), m.rowCount, Map.empty))
      graft.connector.ScanStatsCache.invalidate(root.toString)
      return Map.empty
    }
    // incremental window: prior sketches reusable iff the analyzed
    // version's manifest is readable, covered the same column set, and
    // every file it saw is still referenced (appends-only since)
    val stored = TableStats.read(fs, root)
    val curFiles = m.fragments.map(_.file).toSet
    val incremental = stored.flatMap { s =>
      if (!targets.toSet.subsetOf(s.columns.keySet)) None
      else try {
        val old = LanceFormat.readManifest(fs, root, s.datasetVersion)
        val oldFiles = old.fragments.map(_.file).toSet
        if (oldFiles.subsetOf(curFiles)) Some((s, oldFiles)) else None
      } catch { case _: Exception => None }
    }
    val toScan = incremental match {
      case Some((_, oldFiles)) => m.fragments.filterNot(f => oldFiles.contains(f.file))
      case None => m.fragments
    }
    val fields = targets.map(c => m.schema.fields.find(_.name == c).get)
    val types = fields.map(_.dataType).toArray
    val n = targets.length
    val (scanSketches, scanTotalLen, scanMaxLen, scanRows) =
      if (toScan.isEmpty)
        (Array.fill(n)(new HllSketch()), new Array[Long](n), new Array[Long](n), 0L)
      else {
        val phys = graft.format.LanceFormat.toPhysical(
          org.apache.spark.sql.types.StructType(fields.toArray), m.mapping)
        val files = toScan.map(f => LanceFormat.fragmentPath(root, f.file).toString)
        val df = spark.read.schema(phys).parquet(files: _*)
        df.queryExecution.toRdd.mapPartitions { it =>
          val sk = Array.fill(n)(new HllSketch())
          val tot = new Array[Long](n)
          val mx = new Array[Long](n)
          var rows = 0L
          it.foreach { row =>
            var i = 0
            while (i < n) {
              if (!row.isNullAt(i)) {
                val v = row.get(i, types(i))
                sk(i).update(org.apache.spark.sql.catalyst.expressions
                  .XxHash64Function.hash(v, types(i), 42L))
                val len = v match {
                  case s: org.apache.spark.unsafe.types.UTF8String => s.numBytes.toLong
                  case _ => types(i).defaultSize.toLong
                }
                tot(i) += len
                if (len > mx(i)) mx(i) = len
              }
              i += 1
            }
            rows += 1
          }
          Iterator.single((sk, tot, mx, rows))
        }.treeReduce { case ((s1, t1, m1, r1), (s2, t2, m2, r2)) =>
          (s1.zip(s2).map { case (a, b) => a.merge(b) },
            t1.zip(t2).map { case (a, b) => a + b },
            m1.zip(m2).map { case (a, b) => math.max(a, b) }, r1 + r2)
        }
      }
    // opt-in equi-height histograms (numeric columns, full analyze only
    // — bins cannot merge incrementally): 32 approxQuantile cuts, then
    // one 32-arm CASE chain + approx_count_distinct per bin. This is
    // what turns CBO's range selectivity from a uniformity assumption
    // into the measured distribution.
    val histCols: Map[String, (Seq[graft.format.HistogramBinMeta], Double)] =
      if (!histograms || incremental.isDefined) Map.empty
      else {
        import org.apache.spark.sql.functions.{approx_count_distinct, count => fcount, expr}
        val numeric = targets.filter(c => m.schema.fields
          .find(_.name == c).get.dataType
          .isInstanceOf[org.apache.spark.sql.types.NumericType])
        if (numeric.isEmpty) Map.empty
        else {
          val phys = graft.format.LanceFormat.toPhysical(
            org.apache.spark.sql.types.StructType(numeric.map(c =>
              m.schema.fields.find(_.name == c).get).toArray), m.mapping)
          val files = m.fragments.map(f =>
            LanceFormat.fragmentPath(root, f.file).toString)
          val df0 = spark.read.schema(phys).parquet(files: _*)
          val df = if (m.mapping.isEmpty) df0
            else df0.toDF(numeric.toIndexedSeq: _*)
          val probs = (0 to 32).map(_.toDouble / 32).toArray
          val cuts = df.stat.approxQuantile(numeric.toArray, probs, 0.001)
          numeric.zip(cuts).flatMap { case (c, qs) =>
            // skewed data collapses adjacent cuts: dedupe into fewer,
            // taller-ndv bins (equi-height is approximate by nature)
            val edges = qs.distinct
            if (edges.length < 2 || edges.exists(_.isNaN)) None
            else {
              val bins = edges.sliding(2).map(a => (a(0), a(1))).toSeq
              val binExpr =
                if (bins.size == 1) org.apache.spark.sql.functions.lit(0)
                else {
                  val arms = bins.zipWithIndex.map { case ((_, hi), i) =>
                    if (i == bins.size - 1) s"ELSE $i"
                    else s"WHEN `$c` <= CAST($hi AS DOUBLE) THEN $i"
                  }
                  expr(s"CASE ${arms.init.mkString(" ")} ${arms.last} END")
                }
              val rows = df.filter(org.apache.spark.sql.functions.col(c).isNotNull)
                .groupBy(binExpr.as("__b"))
                .agg(approx_count_distinct(org.apache.spark.sql.functions.col(c)).as("__ndv"),
                  fcount(org.apache.spark.sql.functions.lit(1)).as("__n"))
                .collect()
              val ndvByBin = rows.map(r => r.getInt(0) -> r.getLong(1)).toMap
              val nonNull = rows.map(_.getLong(2)).sum
              val metas = bins.zipWithIndex.map { case ((lo, hi), i) =>
                graft.format.HistogramBinMeta(lo, hi, ndvByBin.getOrElse(i, 0L))
              }
              Some(c -> (metas, nonNull.toDouble / bins.size))
            }
          }.toMap
        }
      }
    val merged = targets.indices.map { i =>
      val c = targets(i)
      val (sketch, avgLen, maxLen, hist) = incremental.flatMap {
        case (s, _) => s.columns.get(c).map { prior =>
          val priorSketch = HllSketch.deserialize(prior.sketch)
          // length stats merge weighted by analyzed row counts (avgLen
          // only feeds CBO's row-size estimate — approximate is fine)
          val priorRows = s.rowCount
          val totalRows = math.max(1L, priorRows + scanRows)
          val avg = (prior.avgLen * priorRows + scanTotalLen(i)) / totalRows
          // prior histogram survives incremental runs: stale but shaped
          // (the appended tail shifts heights, not the value range much)
          (priorSketch.merge(scanSketches(i)), avg,
            math.max(prior.maxLen, scanMaxLen(i)),
            prior.histogram.map(h => (h, prior.histogramHeight.getOrElse(0.0))))
        }
      }.getOrElse {
        val avg = if (scanRows == 0) 0L else scanTotalLen(i) / scanRows
        (scanSketches(i), avg, scanMaxLen(i), histCols.get(c))
      }
      c -> graft.format.ColumnNdvMeta(
        math.min(sketch.estimate(), m.rowCount), avgLen, maxLen,
        sketch.serialize(),
        histogram = hist.map(_._1), histogramHeight = hist.map(_._2))
    }.toMap
    // a SUBSET analyze must not delete the other columns' stats: carry
    // the previously stored entries forward (stale-but-shaped, the
    // warehouse posture — CBO serves the last ANALYZE). The sidecar's
    // datasetVersion stays at the OLDER stored version in that case so a
    // later incremental run rescans everything appended since; re-merging
    // files a freshly-analyzed column already saw is harmless (HLL
    // registers max-merge, so re-observing a row is idempotent for
    // NDV/maxLen and only re-weights the approximate avgLen).
    val carried = stored.map(_.columns).getOrElse(Map.empty)
      .filter { case (c, _) => !merged.contains(c) && m.schema.fieldNames.contains(c) }
    val sidecarVersion =
      if (carried.isEmpty) m.version
      else math.min(m.version, stored.map(_.datasetVersion).getOrElse(m.version))
    TableStats.write(fs, root, graft.format.TableStatsMeta(
      sidecarVersion, System.currentTimeMillis(), m.rowCount, carried ++ merged))
    graft.connector.ScanStatsCache.invalidate(root.toString)
    merged.map { case (c, meta) => c -> meta.ndv }
  }

  /** The quantile-bucketed, bit-interleaved z-value for `cols` over `df`
    * — shared by [[cluster]] and the clustering-preserving compactions.
    * One `approxQuantile` sketch pass (driver-side, KB-sized); the value
    * itself is a pure codegen'd expression (CASE chain + shifts).
    */
  private def zValueColumn(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val nCuts = (1 << ZBits) - 1
    val probs = (1 to nCuts).map(_.toDouble / (nCuts + 1)).toArray
    // one pass builds every column's sketch together
    val cuts = df.stat.approxQuantile(cols.toArray, probs, 0.001)
    val bucketExprs = cols.zip(cuts).map { case (c, qs) =>
      // ascending CASE chain: value <= q(i) -> bucket i; NULLs sort first
      val arms = qs.zipWithIndex.map { case (q, i) =>
        s"WHEN `$c` <= CAST($q AS DOUBLE) THEN $i"
      }.mkString(" ")
      expr(s"CASE WHEN `$c` IS NULL THEN 0 $arms ELSE $nCuts END")
    }
    // interleave: bit i of column j lands at position i*nCols + j, so all
    // columns contribute equally at every scale of the curve
    (0 until ZBits).flatMap { bit =>
      bucketExprs.zipWithIndex.map { case (b, j) =>
        shiftleft(shiftright(b, bit).bitwiseAND(lit(1)), bit * cols.size + j)
      }
    }.reduce(_.bitwiseOR(_))
  }
}
