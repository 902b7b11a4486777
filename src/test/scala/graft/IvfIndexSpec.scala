package graft

import graft.index.{HnswIndex, IvfIndex}
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class IvfIndexSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val datasetPath = {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "ivf-test-")
      .toAbsolutePath.toString
    val ds = s"$dir/emb"
    Tables.t(spark, sf, "embeddings").write.format("lance").mode("append").save(ds)
    ds
  }

  private lazy val built = {
    val df = spark.read.format("lance").load(datasetPath)
    IvfIndex.build(spark, df, "embedding", "vec_id", datasetPath, numPartitions = 8)
  }

  private def queryVec(qid: Long): Array[Float] =
    Tables.t(spark, sf, "embeddings").filter($"vec_id" === qid)
      .select($"embedding").collect().head.getSeq[Float](0).toArray

  /** Spark jobs `body` starts, counted by a listener on this thread's job
    * group. The listener bus delivers in order, so once a marker job run
    * after `body` is seen, every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"counted-${java.util.UUID.randomUUID}"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => counted.incrementAndGet()
          case g if g == s"$group-marker" => marked.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marked.await(30, java.util.concurrent.TimeUnit.SECONDS))
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  /** Overwrite `index.json` out of band, as an index written by other code
    * would look (the meta cache misses on the new length). */
  private def writeIndexJson(ds: String, meta: IvfIndex.IndexMeta): Unit = {
    val metaFile = java.nio.file.Paths.get(s"${IvfIndex.indexPath(ds, "embedding")}/index.json")
    val json = org.json4s.jackson.Serialization.write(meta)(
      org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints))
    java.nio.file.Files.write(metaFile, json.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      metaFile.getParent.resolve(s".${metaFile.getFileName}.crc"))
  }

  test("index build succeeds and records metadata") {
    assert(built.success, built.error)
    assert(built.numPartitions == 8)
    val meta = IvfIndex.loadMeta(spark, datasetPath, "embedding")
    assert(meta.centroids.size == 8)
    assert(meta.dim == 64)
  }

  test("full-probe IVF search equals exact brute-force KNN") {
    assert(built.success)
    val q = queryVec(0)
    val ivf = IvfIndex.search(spark, datasetPath, "embedding", q, 10, nprobes = 8)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val exact = Similarity.knnSearch(
      Tables.t(spark, sf, "embeddings"), "embedding", q, 10, "l2")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(ivf == exact)
  }

  test("knn join: full probe equals per-query exact KNN; partial probe stays k-complete") {
    assert(built.success)
    val qs = Tables.t(spark, sf, "embeddings").filter($"vec_id" < 4)
    val full = IvfIndex.searchJoin(spark, datasetPath, "embedding", qs, "vec_id",
      k = 5, nprobes = 8)
    val byQuery = full.select($"query_id", $"_rank", $"vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
    assert(byQuery.keySet == Set(0L, 1L, 2L, 3L))
    byQuery.foreach { case (qid, ids) =>
      val exact = Similarity.knnSearch(
        Tables.t(spark, sf, "embeddings"), "embedding", queryVec(qid), 5, "l2")
        .select($"vec_id").collect().map(_.getLong(0)).toSeq
      assert(ids == exact, s"query $qid: $ids != $exact")
    }
    // partial probe: every query still gets k ranked rows (from its
    // nearest buckets only), and ranks are dense 1..k
    val partial = IvfIndex.searchJoin(spark, datasetPath, "embedding", qs, "vec_id",
      k = 5, nprobes = 2)
    val counts = partial.groupBy($"query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 5L), counts.toString)
    val ranks = partial.select($"query_id", $"_rank").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).sorted.toSeq)
    assert(ranks.values.forall(_ == Seq(1, 2, 3, 4, 5)))
  }

  test("refresh delta-indexes appends; rewrites demand a rebuild") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "ivf-refresh-")
      .toAbsolutePath.toString
    val ds = s"$dir/emb"
    val emb = Tables.t(spark, sf, "embeddings")
    emb.filter($"vec_id" >= 50).write.format("lance").mode("overwrite").save(ds)
    val r = IvfIndex.build(spark, spark.read.format("lance").load(ds),
      "embedding", "vec_id", ds, numPartitions = 4)
    assert(r.success, r.error)
    // no new fragments: refresh is a no-op
    assert(IvfIndex.refresh(spark, ds, "embedding") == 0L)
    // append, refresh, search finds an appended vector exactly
    emb.filter($"vec_id" < 50).write.format("lance").mode("append").save(ds)
    val added = IvfIndex.refresh(spark, ds, "embedding")
    assert(added == 50L, s"added=$added")
    val q = queryVec(7L)
    val top = IvfIndex.search(spark, ds, "embedding", q, 1, nprobes = 4).collect().head
    assert(top.getAs[Long]("vec_id") == 7L && top.getAs[Double]("_distance") == 0.0)
    // the stamp moved: a second refresh is a no-op again
    assert(IvfIndex.refresh(spark, ds, "embedding") == 0L)
    // compaction rewrites fragments -> the delta is undefined -> loud failure
    graft.Lance.compact(spark, ds)
    val e = intercept[IllegalArgumentException] {
      IvfIndex.refresh(spark, ds, "embedding")
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("partial-probe search achieves high recall at a fraction of the scan") {
    assert(built.success)
    val ids = Seq(0L, 7L, 42L, 99L, 123L)
    val recalls = ids.map { qid =>
      val q = queryVec(qid)
      val ivf = IvfIndex.search(spark, datasetPath, "embedding", q, 10, nprobes = 4)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      val exact = Similarity.knnSearch(
        Tables.t(spark, sf, "embeddings"), "embedding", q, 10, "l2")
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      (ivf intersect exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall@10 with nprobes=4/8: $mean ($recalls)")
  }

  test("probed scan prunes bucket directories (PartitionFilters)") {
    assert(built.success)
    val q = queryVec(3)
    val df = IvfIndex.search(spark, datasetPath, "embedding", q, 5, nprobes = 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [__ivf_part"), plan)
  }

  test("filtered search pre-filters inside probed buckets (V3)") {
    assert(built.success)
    val q = queryVec(0)
    val res = IvfIndex.search(spark, datasetPath, "embedding", q, 10, nprobes = 8,
      filter = Some($"label" === 3))
      .select($"vec_id", $"label").collect()
    assert(res.length == 10)
    assert(res.forall(_.getInt(1) == 3))
    val exact = Similarity.knnSearch(
      Tables.t(spark, sf, "embeddings").filter($"label" === 3),
      "embedding", q, 10, "l2").select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(res.map(_.getLong(0)).toSet == exact)
  }

  test("filtered search widens probes when the filter starves the nearest buckets") {
    assert(built.success)
    val q = queryVec(0)
    // only 10 rows in the whole index satisfy the filter, scattered across
    // buckets — nprobes=1 cannot hold 10 of them, so search must widen
    // probes (to all 8 if needed) instead of returning a silent short set
    val res = IvfIndex.search(spark, datasetPath, "embedding", q, 10, nprobes = 1,
      filter = Some($"vec_id" >= 490))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val exact = Similarity.knnSearch(
      Tables.t(spark, sf, "embeddings").filter($"vec_id" >= 490),
      "embedding", q, 10, "l2").select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(res == exact)
    assert(res.size == 10)

    // fewer than k matches exist in the entire index: returns all of them
    // (after probing everything) rather than failing
    val short = IvfIndex.search(spark, datasetPath, "embedding", q, 10, nprobes = 1,
      filter = Some($"vec_id" >= 495))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(short == (495L until 500L).toSet)
  }

  test("cosine index: bucket assignment and probe selection share one Voronoi") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "ivfcos-test-")
      .toAbsolutePath.toString
    val ds = s"$dir/emb"
    Tables.t(spark, sf, "embeddings").write.format("lance").mode("append").save(ds)
    val r = IvfIndex.build(spark, spark.read.format("lance").load(ds),
      "embedding", "vec_id", ds, numPartitions = 8, metric = "cosine")
    assert(r.success, r.error)
    val meta = IvfIndex.loadMeta(spark, ds, "embedding")
    // for a stored vector used as its own query, the #1-ranked probe must
    // be exactly the bucket the build assigned it to — this is what makes
    // partial-probe cosine searches find the bucket that holds the
    // neighbors (build assigns on normalized L2; probe must agree)
    val stored = spark.read.parquet(s"${IvfIndex.indexPath(ds, "embedding")}/buckets")
      .select($"vec_id", $"__ivf_part").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sampleIds = Seq(0L, 7L, 42L, 99L, 123L, 200L, 333L, 444L)
    sampleIds.foreach { id =>
      val v = queryVec(id).map(_.toDouble)
      val top = meta.centroids.zipWithIndex
        .map { case (c, i) => (IvfIndex.centroidDist(v, c.toArray, "cosine"), i) }
        .minBy(_._1)._2
      assert(top == stored(id),
        s"vec $id assigned to bucket ${stored(id)} but probe ranks bucket $top first")
    }
    // partial-probe cosine search keeps high recall vs exact cosine KNN
    val recalls = Seq(0L, 7L, 42L, 99L, 123L).map { qid =>
      val q = queryVec(qid)
      val ann = IvfIndex.search(spark, ds, "embedding", q, 10, nprobes = 4,
        metric = "cosine").select($"vec_id").collect().map(_.getLong(0)).toSet
      val exact = Similarity.knnSearch(
        Tables.t(spark, sf, "embeddings"), "embedding", q, 10, "cosine")
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      (ann intersect exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean cosine recall@10 with nprobes=4/8: $mean ($recalls)")
  }

  test("index records the dataset version it covers (staleness stamp)") {
    assert(built.success)
    val meta = IvfIndex.loadMeta(spark, datasetPath, "embedding")
    // datasetPath IS a lance dataset in this suite -> version recorded
    assert(meta.datasetVersion.contains(1L))
  }

  test("dimension mismatch is rejected") {
    assert(built.success)
    intercept[IllegalArgumentException] {
      IvfIndex.search(spark, datasetPath, "embedding", Array(1f, 2f), 5)
    }
  }

  test("metric mismatch between search and build fails loud") {
    assert(built.success)
    val q = queryVec(0)
    // cosine probe ranking over L2-assigned buckets would silently lose
    // recall — the search must reject it, same contract as HnswIndex
    val e = intercept[IllegalArgumentException] {
      IvfIndex.search(spark, datasetPath, "embedding", q, 5, metric = "cosine")
    }
    assert(e.getMessage.contains("built for metric l2"), e.getMessage)
  }

  test("cosine index predating normalized assignment is rejected at load") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "ivfver-test-")
      .toAbsolutePath.toString
    val ds = s"$dir/emb"
    Tables.t(spark, sf, "embeddings").write.format("lance").mode("append").save(ds)
    val r = IvfIndex.build(spark, spark.read.format("lance").load(ds),
      "embedding", "vec_id", ds, numPartitions = 4, metric = "cosine")
    assert(r.success, r.error)
    // a fresh build carries the stamp and loads fine
    assert(IvfIndex.loadMeta(spark, ds, "embedding").formatVersion
      .contains(IvfIndex.CurrentFormatVersion))
    // strip the stamp — simulating a sidecar written before normalized
    // assignment existed — and the load must demand a rebuild
    val metaFile = java.nio.file.Paths.get(
      s"${IvfIndex.indexPath(ds, "embedding")}/index.json")
    val json = new String(java.nio.file.Files.readAllBytes(metaFile), "UTF-8")
    val stripped = json.replace(
      s""","formatVersion":${IvfIndex.CurrentFormatVersion}""", "")
    assert(stripped != json, "test setup: formatVersion field not found")
    java.nio.file.Files.write(metaFile, stripped.getBytes("UTF-8"))
    // drop the local-FS checksum sidecar invalidated by the raw rewrite
    java.nio.file.Files.deleteIfExists(
      metaFile.getParent.resolve(s".${metaFile.getFileName}.crc"))
    val e = intercept[IllegalStateException] {
      IvfIndex.loadMeta(spark, ds, "embedding")
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("IVF_PQ: codes stored, ADC search with refine recovers exact top-k") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "pq-test-")
      .toAbsolutePath.toString
    val ds = s"$dir/emb"
    Tables.t(spark, sf, "embeddings").write.format("lance").mode("append").save(ds)
    val df = spark.read.format("lance").load(ds)
    val r = IvfIndex.build(spark, df, "embedding", "vec_id", ds,
      numPartitions = 8, pq = Some(IvfIndex.PqParams(numSubVectors = 16, numBits = 4)))
    assert(r.success, r.error)
    val meta = IvfIndex.loadMeta(spark, ds, "embedding")
    assert(meta.pq.isDefined)
    assert(meta.pq.get.codebooks.size == 16)
    assert(meta.pq.get.codebooks.head.size <= 16)
    // stored codes are within the codebook range
    val codes = spark.read.parquet(s"${IvfIndex.indexPath(ds, "embedding")}/buckets")
      .select("__pq_code").collect()
    assert(codes.length == 500)
    codes.foreach { row =>
      val cs = row.getSeq[Int](0)
      assert(cs.size == 16 && cs.forall(c => c >= 0 && c < 16))
    }
    // full probe + refine: exact top-k must be recovered despite quantization
    val q = queryVec(0)
    val pq = IvfIndex.searchPq(spark, ds, "embedding", q, 10,
      nprobes = 8, refineFactor = 16)
    val got = pq.select($"vec_id").collect().map(_.getLong(0)).toSet
    val exact = Similarity.knnSearch(
      Tables.t(spark, sf, "embeddings"), "embedding", q, 10, "l2")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"PQ+refine recall@10: $recall")
    // _distance is the exact refined distance, ordered
    val dists = pq.select($"_distance").collect().map(_.getDouble(0))
    assert(dists.sameElements(dists.sorted))

    // filter composes with ADC (pre-filter before the top-(k·refine)):
    // ~50 label-3 rows < k·refine=160, so every match reaches the exact
    // refine and the result IS the exact filtered KNN
    val gotF = IvfIndex.searchPq(spark, ds, "embedding", q, 10,
      nprobes = 8, refineFactor = 16, filter = Some($"label" === 3))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val exactF = Similarity.knnSearch(
      Tables.t(spark, sf, "embeddings").filter($"label" === 3),
      "embedding", q, 10, "l2").select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(gotF == exactF, s"got=$gotF exact=$exactF")
    // a starving filter widens probes (1 -> all) and surfaces every match
    val short = IvfIndex.searchPq(spark, ds, "embedding", q, 10,
      nprobes = 1, refineFactor = 16, filter = Some($"vec_id" >= 495))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(short == (495L until 500L).toSet, short.toString)
  }

  test("meta cache: repeated searches skip the index.json read; refresh invalidates") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "ivfcache-")
      .toAbsolutePath.toString
    val ds = s"$dir/emb"
    val emb = Tables.t(spark, sf, "embeddings")
    emb.filter($"vec_id" >= 50).write.format("lance").mode("overwrite").save(ds)
    val r = IvfIndex.build(spark, spark.read.format("lance").load(ds),
      "embedding", "vec_id", ds, numPartitions = 4)
    assert(r.success, r.error)
    val q = queryVec(60L)
    IvfIndex.search(spark, ds, "embedding", q, 5, nprobes = 4).collect()
    // the path is unique to this test, so the per-path count is exact:
    // one filesystem read on the first search...
    assert(IvfIndex.metaReadCount(spark, ds, "embedding") == 1L)
    // ...and ZERO additional reads on repeated searches (the serving shape)
    IvfIndex.search(spark, ds, "embedding", q, 5, nprobes = 4).collect()
    IvfIndex.search(spark, ds, "embedding", q, 3, nprobes = 2).collect()
    assert(IvfIndex.metaReadCount(spark, ds, "embedding") == 1L)
    // refresh rewrites index.json and must invalidate: the next load
    // re-reads and sees the moved staleness stamp
    emb.filter($"vec_id" < 50).write.format("lance").mode("append").save(ds)
    assert(IvfIndex.refresh(spark, ds, "embedding") == 50L)
    val refreshed = IvfIndex.loadMeta(spark, ds, "embedding")
    assert(refreshed.datasetVersion.contains(2L))
    assert(IvfIndex.metaReadCount(spark, ds, "embedding") == 2L)

    // build stamped the bucket schema, refresh carried it over, and it is
    // the schema inference would find
    val buckets = s"${IvfIndex.indexPath(ds, "embedding")}/buckets"
    assert(refreshed.bucketStruct == spark.read.parquet(buckets).schema)
    // warm probes run no schema-inference job: IVF is its one top-k job,
    // HNSW its three (two shuffle stages and the top-k)
    assert(HnswIndex.build(spark, ds, "embedding").success)
    def ivf() = IvfIndex.search(spark, ds, "embedding", q, 5, nprobes = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    def hnsw() = HnswIndex.search(spark, ds, "embedding", q, 5, nprobes = 2)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val (ivfRows, hnswRows) = (ivf(), hnsw())
    assert(jobsOf(ivf()) == 1)
    assert(jobsOf(hnsw()) == 3)

    // an index.json without the stamp (written before it existed) is
    // inferred once on load and serves the same rows
    writeIndexJson(ds, refreshed.copy(bucketSchema = None))
    assert(ivf() == ivfRows && hnsw() == hnswRows)
    assert(IvfIndex.metaReadCount(spark, ds, "embedding") == 3L)
    assert(IvfIndex.loadMeta(spark, ds, "embedding").bucketStruct == refreshed.bucketStruct)

    // a rebuild that adds PQ codes is served the new schema at once:
    // writeMeta evicted the entry that lacked __pq_code
    val rebuilt = IvfIndex.build(spark, spark.read.format("lance").load(ds),
      "embedding", "vec_id", ds, numPartitions = 4,
      pq = Some(IvfIndex.PqParams(numSubVectors = 16, numBits = 4)))
    assert(rebuilt.success, rebuilt.error)
    assert(IvfIndex.loadMeta(spark, ds, "embedding").bucketStruct.fieldNames
      .contains("__pq_code"))
    assert(IvfIndex.searchPq(spark, ds, "embedding", q, 5, nprobes = 4).count() == 5)
  }

  test("a probed bucket without a directory reads as empty") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "ivfempty-")
      .toAbsolutePath.toString
    val ds = s"$dir/emb"
    Tables.t(spark, sf, "embeddings").write.format("lance").mode("append").save(ds)
    val r = IvfIndex.build(spark, spark.read.format("lance").load(ds),
      "embedding", "vec_id", ds, numPartitions = 4)
    assert(r.success, r.error)
    assert(HnswIndex.build(spark, ds, "embedding").success)
    val built = IvfIndex.loadMeta(spark, ds, "embedding")
    // a fifth centroid AT the query: it ranks first, but no row was ever
    // assigned to it, so it has no __ivf_part=4 directory
    val q = queryVec(60L)
    val qd = q.map(_.toDouble)
    val phantom = built.copy(numPartitions = 5, centroids = built.centroids :+ qd.toSeq)
    val real = built.centroids.indices
      .minBy(i => IvfIndex.centroidDist(qd, built.centroids(i).toArray, "l2"))
    val bucketRows = spark.read.parquet(s"${IvfIndex.indexPath(ds, "embedding")}/buckets")
      .filter($"__ivf_part" === real)
    val expected = Similarity.knnSearch(bucketRows, "embedding", q, 10, "l2")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    // existence comes from bucketRows; without it, from one listing
    Seq(phantom, phantom.copy(bucketRows = None)).foreach { meta =>
      writeIndexJson(ds, meta)
      val got = IvfIndex.search(spark, ds, "embedding", q, 10, nprobes = 2)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"bucketRows=${meta.bucketRows.isDefined}")
      // only the phantom is probed at first: filtered widening still
      // reaches k from the buckets that exist
      val filtered = IvfIndex.search(spark, ds, "embedding", q, 10, nprobes = 1,
        filter = Some($"label" === 3)).select($"label").collect()
      assert(filtered.length == 10 && filtered.forall(_.getInt(0) == 3))
      assert(HnswIndex.search(spark, ds, "embedding", q, 10, nprobes = 2, ef = 200)
        .collect().length == 10)
    }
  }

  test("flipped-geometry knn join: distributed query side, identical results") {
    assert(built.success)
    val qs = Tables.t(spark, sf, "embeddings").filter($"vec_id" < 40)
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select($"query_id", $"_rank", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val flipped = IvfIndex.searchJoin(spark, datasetPath, "embedding", qs,
      "vec_id", k = 5, nprobes = 8, geometry = "flipped")
    val broad = IvfIndex.searchJoin(spark, datasetPath, "embedding", qs,
      "vec_id", k = 5, nprobes = 8, geometry = "broadcast")
    assert(resultSet(flipped) == resultSet(broad),
      "the two geometries must produce identical results")
    // the scale contract: the query side is never collected to the driver
    val plan = flipped.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"),
      s"flipped geometry must not collect the query side:\n$plan")
    assert(plan.contains("Exchange"), plan)
    // auto geometry flips once the query count exceeds the conf threshold
    spark.conf.set("spark.graft.vector.join.broadcastLimit", "10")
    try {
      val auto = IvfIndex.searchJoin(spark, datasetPath, "embedding", qs,
        "vec_id", k = 5, nprobes = 8)
      assert(!auto.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    } finally spark.conf.unset("spark.graft.vector.join.broadcastLimit")
  }

  test("PQ serves cosine: normalized codes, ADC on the normalized query") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "pqcos-")
      .toAbsolutePath.toString
    val ds = s"$dir/emb"
    Tables.t(spark, sf, "embeddings").write.format("lance").mode("append").save(ds)
    val r = IvfIndex.build(spark, spark.read.format("lance").load(ds),
      "embedding", "vec_id", ds, numPartitions = 8, metric = "cosine",
      pq = Some(IvfIndex.PqParams(numSubVectors = 16, numBits = 4)))
    assert(r.success, r.error)
    assert(IvfIndex.loadMeta(spark, ds, "embedding").pq.get.normalized.contains(true))
    val q = queryVec(1)
    val pq = IvfIndex.searchPq(spark, ds, "embedding", q, 10,
      nprobes = 8, refineFactor = 16)
    val got = pq.select($"vec_id").collect().map(_.getLong(0)).toSet
    val exact = Similarity.knnSearch(
      Tables.t(spark, sf, "embeddings"), "embedding", q, 10, "cosine")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"cosine PQ+refine recall@10: $recall")
    // _distance is the exact refined cosine distance, ordered ascending
    val dists = pq.select($"_distance").collect().map(_.getDouble(0))
    assert(dists.sameElements(dists.sorted))
    assert(dists.forall(d => d >= 0.0 && d <= 2.0))

    // an index whose codes predate normalized encoding (the L2-only era)
    // must fail loud instead of silently mis-ranking
    val metaFile = java.nio.file.Paths.get(
      s"${IvfIndex.indexPath(ds, "embedding")}/index.json")
    val json = new String(java.nio.file.Files.readAllBytes(metaFile), "UTF-8")
    val stripped = json.replace(""","normalized":true""", "")
    assert(stripped != json, "test setup: normalized flag not found")
    java.nio.file.Files.write(metaFile, stripped.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(
      metaFile.getParent.resolve(s".${metaFile.getFileName}.crc"))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.searchPq(spark, ds, "embedding", q, 10, nprobes = 8)
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("PQ search rejects a caller expecting a different metric") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "pqmet-")
      .toAbsolutePath.toString
    val ds = s"$dir/emb"
    Tables.t(spark, sf, "embeddings").write.format("lance").mode("append").save(ds)
    val r = IvfIndex.build(spark, spark.read.format("lance").load(ds),
      "embedding", "vec_id", ds, numPartitions = 4,
      pq = Some(IvfIndex.PqParams(numSubVectors = 16, numBits = 4)))
    assert(r.success, r.error)
    val q = queryVec(0)
    // the TVF's metric arg reaches searchPq: expecting cosine over an
    // L2-built PQ index must fail loud, never silently re-rank under L2
    val e = intercept[IllegalArgumentException] {
      IvfIndex.searchPq(spark, ds, "embedding", q, 5, nprobes = 4,
        metric = Some("cosine"))
    }
    assert(e.getMessage.contains("built for metric l2"), e.getMessage)
    // the matching metric passes through
    assert(IvfIndex.searchPq(spark, ds, "embedding", q, 5, nprobes = 4,
      metric = Some("l2")).count() == 5)
  }

  test("PQ serves dot: the ADC table decomposes the inner product") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "pqdot-")
      .toAbsolutePath.toString
    val ds = s"$dir/emb"
    Tables.t(spark, sf, "embeddings").write.format("lance").mode("append").save(ds)
    val r = IvfIndex.build(spark, spark.read.format("lance").load(ds),
      "embedding", "vec_id", ds, numPartitions = 8, metric = "dot",
      pq = Some(IvfIndex.PqParams(numSubVectors = 16, numBits = 4)))
    assert(r.success, r.error)
    val q = queryVec(2)
    val pq = IvfIndex.searchPq(spark, ds, "embedding", q, 10,
      nprobes = 8, refineFactor = 16)
    val got = pq.select($"vec_id").collect().map(_.getLong(0)).toSet
    val exact = Similarity.knnSearch(
      Tables.t(spark, sf, "embeddings"), "embedding", q, 10, "dot")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"dot PQ+refine recall@10: $recall")
    // _distance = -<q,x> exact, ascending = best inner product first
    val dists = pq.select($"_distance").collect().map(_.getDouble(0))
    assert(dists.sameElements(dists.sorted))
  }


  test("PQ over a FLOAT64 corpus: L2, cosine and dot ADC all serve doubles") {
    // the memory-efficient mode must not be float32-only: codebooks and
    // codes quantize (precision there is quantization by definition) but
    // the stored column, refine scoring and _distance stay double
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "pqf64-")
      .toAbsolutePath.toString
    Seq(("l2", 0L), ("cosine", 1L), ("dot", 2L)).foreach { case (metric, qid) =>
      val ds = s"$dir/emb_$metric"
      Tables.t(spark, sf, "embeddings")
        .withColumn("embedding", col("embedding").cast("array<double>"))
        .write.format("lance").mode("append").save(ds)
      val r = IvfIndex.build(spark, spark.read.format("lance").load(ds),
        "embedding", "vec_id", ds, numPartitions = 8, metric = metric,
        pq = Some(IvfIndex.PqParams(numSubVectors = 16, numBits = 4)))
      assert(r.success, s"$metric: ${r.error}")
      val q = queryVec(qid)
      val pq = IvfIndex.searchPq(spark, ds, "embedding", q, 10,
        nprobes = 8, refineFactor = 16)
      val got = pq.select($"vec_id").collect().map(_.getLong(0)).toSet
      val exact = Similarity.knnSearch(
        Tables.t(spark, sf, "embeddings"), "embedding", q, 10, metric)
        .select($"vec_id").collect().map(_.getLong(0)).toSet
      val recall = (got intersect exact).size.toDouble / exact.size
      assert(recall >= 0.9, s"$metric PQ over doubles recall@10: $recall")
      // the stored column IS double and _distance orders ascending
      assert(spark.read.format("lance").load(ds).schema("embedding").dataType
        == org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true))
      val dists = pq.select($"_distance").collect().map(_.getDouble(0))
      assert(dists.sameElements(dists.sorted), s"$metric: unsorted refine")
    }
  }

  test("build on a missing column reports failure, not an exception") {
    val r = IvfIndex.build(spark, spark.range(3).toDF(), "nope", "id", "target/never")
    assert(!r.success)
    assert(r.error.exists(_.contains("nope")))
  }
}
