package graft

import graft.format.{BucketHash, BucketPrune, LanceFormat}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Storage-partitioned joins ([[Lance.clusterByBucket]]): declared hash
  * bucketing routes every write per row (purity is a writer invariant),
  * the scan reports `KeyGroupedPartitioning(bucket(n, cols))`, the
  * catalog serves the V2 `bucket` function, and two co-bucketed tables
  * join with ZERO shuffle on either side. Contracts pinned here:
  *  - the three hash sites agree: writer routing == catalog V2 function
  *    == Spark's own `pmod(hash(cols), n)`
  *  - every write path stays bucket-pure: append under adversarial
  *    distribution, DML copy-on-write rewrite, compact()
  *  - the co-bucketed equi-join plans with NO exchange under either join
  *    child, and matches the plain shuffle-join result row for row
  *  - an untagged (pre-declaration) fragment disables the claim — the
  *    join still answers correctly, with shuffles
  *  - `=`/`IN` on the bucket key prunes fragments at the manifest
  *  - RENAME remaps the spec, DROP clears it, widening a key refuses,
  *    z-order and bucket specs are mutually exclusive
  */
class SpjSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory(java.nio.file.Paths.get("target"), "spj-")
      .toAbsolutePath.toString

  private def fs(dir: String) =
    LanceFormat.fileSystem(new Path(dir), spark.sessionState.newHadoopConf())

  private def manifest(dir: String) =
    LanceFormat.readLatest(fs(dir), new Path(dir)).get

  /** All rows of fragment `file` hash into its tag under (n, cols). */
  private def assertPure(dir: String): Unit = {
    val m = manifest(dir)
    val spec = m.bucketBy.get
    // fragment files carry PHYSICAL names (stable across RENAME)
    val physCols = spec.columns.map(m.physicalName)
    m.fragments.foreach { f =>
      assert(f.bucket.isDefined, s"untagged fragment ${f.file}")
      val df = spark.read.parquet(
        LanceFormat.fragmentPath(new Path(dir), f.file).toString)
      // re-derive the grid tag independently of BucketHash: one
      // pmod(hash(c), wᵢ) digit per column, row-major mixed-radix
      // composed (a unary spec degenerates to plain pmod(hash(c), n))
      val widths = spec.widthsVec
      val digits = physCols.zip(widths).map {
        case (c, w) => pmod(hash(col(c)), lit(w)) }
      val buckets = df.select(
        digits.zip(widths).tail.foldLeft(digits.head) {
          case (acc, (d, w)) => acc * w + d }.as("b"))
        .distinct().as[Int].collect()
      assert(buckets.toSeq == Seq(f.bucket.get),
        s"fragment ${f.file} tagged ${f.bucket.get} holds buckets ${buckets.toSeq}")
    }
  }

  test("writer routing == catalog V2 function == Spark's pmod(hash, n)") {
    val n = 16
    val samples: Seq[(Any, org.apache.spark.sql.types.DataType)] = Seq(
      (java.lang.Long.valueOf(42L), org.apache.spark.sql.types.LongType),
      (java.lang.Long.valueOf(-7L), org.apache.spark.sql.types.LongType),
      (java.lang.Integer.valueOf(123), org.apache.spark.sql.types.IntegerType),
      (org.apache.spark.unsafe.types.UTF8String.fromString("doc-99"),
        org.apache.spark.sql.types.StringType))
    samples.foreach { case (v, dt) =>
      val viaHelper = BucketHash.bucketOfInternal(Seq(v), Seq(dt), n)
      // the engine's own hash(): one-row frame, same literal
      val viaSpark = spark.range(1)
        .select(pmod(hash(lit(
          org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v, dt)
        ).cast(dt)), lit(n)).as("b")).as[Int].head()
      assert(viaHelper == viaSpark, s"helper=$viaHelper spark=$viaSpark for $v:$dt")
      // the catalog function Spark would align join sides with
      val bound = graft.catalog.GraftBucketFunction.bind(
        new org.apache.spark.sql.types.StructType()
          .add("n", org.apache.spark.sql.types.IntegerType)
          .add("k", dt))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
      val viaFn = bound.produceResult(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](n, v)))
      assert(viaFn.intValue == viaHelper)
    }
    // null key component leaves the running hash at the seed — still a
    // valid bucket, same on both paths
    val nullB = BucketHash.bucketOfInternal(Seq(null),
      Seq(org.apache.spark.sql.types.LongType), n)
    val sparkNull = spark.range(1)
      .select(pmod(hash(lit(null).cast("long")), lit(n)).as("b")).as[Int].head()
    assert(nullB == sparkNull)
  }

  test("clusterByBucket rewrites bucket-pure; appends and DML stay pure") {
    val dir = tmpDir()
    spark.range(0, 3000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartition(5)
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("k"), numBuckets = 8)
    assert(Lance.bucketSpec(spark, dir).exists(b =>
      b.numBuckets == 8 && b.columns == Seq("k")))
    // surfaced to SQL users through SHOW TBLPROPERTIES
    assert(new graft.connector.LanceTable(dir, null).properties()
      .get("lance.bucket-by") == "8:k")
    assertPure(dir)
    // adversarial append: rows shuffled across 3 arbitrary partitions
    spark.range(3000, 4000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartition(3)
      .write.format("lance").mode("append").save(dir)
    assertPure(dir)
    assert(spark.read.format("lance").load(dir).count() == 4000)
    // copy-on-write DML rewrite keeps routing
    Lance.updateWhere(spark, dir, "k = 17", Map("v" -> "v + 1"))
    assertPure(dir)
    assert(spark.read.format("lance").load(dir)
      .filter(col("k") === 17).select("v").as[Long].head() == 52)
    // maintenance keeps the spec and the purity
    Lance.compact(spark, dir, maxRowsPerFile = 1000)
    assert(Lance.bucketSpec(spark, dir).isDefined)
    assertPure(dir)
    assert(spark.read.format("lance").load(dir).count() == 4000)
  }

  // ---- the join itself ----

  private def scansOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    case q: QueryStageExec => scansOf(q.plan)
    case other => other +: other.children.flatMap(scansOf)
  }

  private def joinNodes(p: SparkPlan): Seq[SparkPlan] = scansOf(p).filter {
    case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
    case _ => false
  }

  private def hasShuffleBelow(p: SparkPlan): Boolean =
    scansOf(p).drop(1).exists(_.isInstanceOf[ShuffleExchangeLike])

  private def withSpjConfs[T](body: => T): T = {
    val keys = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("co-bucketed equi-join plans with zero shuffle and exact results") {
    val wh = tmpDir()
    spark.conf.set("spark.sql.catalog.spj", "graft.catalog.LanceCatalog")
    spark.conf.set("spark.sql.catalog.spj.warehouse", wh)
    val left = s"$wh/db/facts"
    val right = s"$wh/db/dims"
    spark.range(0, 5000)
      .select(pmod(col("id") * 937, lit(1000)).as("k"), col("id").as("amount"))
      .repartition(4).write.format("lance").mode("overwrite").save(left)
    spark.range(0, 1000)
      .select(col("id").as("k"), concat(lit("g"), pmod(col("id"), lit(7))).as("grp"))
      .repartition(4).write.format("lance").mode("overwrite").save(right)
    Lance.clusterByBucket(spark, left, Seq("k"), numBuckets = 8)
    Lance.clusterByBucket(spark, right, Seq("k"), numBuckets = 8)

    def q: DataFrame = spark.sql(
      """SELECT f.k, f.amount, d.grp
        |FROM spj.db.facts f JOIN spj.db.dims d ON f.k = d.k""".stripMargin)

    // reference result through the ordinary shuffle plan
    val expected = q.collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)

    withSpjConfs {
      val df = q
      val got = df.collect().map(_.toSeq).toSet
      assert(got == expected, "storage-partitioned join changed the answer")
      val joins = joinNodes(df.queryExecution.executedPlan)
      assert(joins.nonEmpty, "no sort-merge/shuffled-hash join in the plan:\n" +
        df.queryExecution.executedPlan)
      joins.foreach { j =>
        j.children.foreach { side =>
          assert(!hasShuffleBelow(side) && !side.isInstanceOf[ShuffleExchangeLike],
            s"exchange under a join side of a co-bucketed join:\n$j")
        }
      }
    }
  }

  test("group-by on the bucket key aggregates without an exchange") {
    val wh = tmpDir()
    spark.conf.set("spark.sql.catalog.spjg", "graft.catalog.LanceCatalog")
    spark.conf.set("spark.sql.catalog.spjg.warehouse", wh)
    val path = s"$wh/db/events"
    spark.range(0, 6000)
      .select(pmod(col("id") * 131, lit(400)).as("k"), col("id").as("v"))
      .repartition(4).write.format("lance").mode("overwrite").save(path)
    Lance.clusterByBucket(spark, path, Seq("k"), numBuckets = 8)
    def q = spark.sql(
      "SELECT k, COUNT(*) AS n, SUM(v) AS s FROM spjg.db.events GROUP BY k")
    val expected = q.collect().map(_.toSeq).toSet
    withSpjConfs {
      val df = q
      assert(df.collect().map(_.toSeq).toSet == expected)
      val shuffles = scansOf(df.queryExecution.executedPlan)
        .filter(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles.isEmpty,
        s"bucket-key group-by still shuffles:\n${df.queryExecution.executedPlan}")
    }
  }

  // Composite keys get the full shuffle-free claim too: the scan reports
  // ONE bucket(n, a, b) transform whose two column leaves both appear in
  // the join clustering — Spark's satisfies0 (default mode) requires
  // exactly that, and KeyGroupedShuffleSpec matches the transform
  // structurally across sides. Joins covering only a SUBSET of the key
  // columns fail satisfies0 and shuffle normally (correct, just not
  // free). tenant+day / user+date composite keys are the fact⋈fact norm,
  // so this is the 100 TB case that matters.
  test("composite bucket key: purity + zero-exchange join on the full key") {
    val wh = tmpDir()
    spark.conf.set("spark.sql.catalog.spj2", "graft.catalog.LanceCatalog")
    spark.conf.set("spark.sql.catalog.spj2.warehouse", wh)
    val left = s"$wh/db/l2"
    val right = s"$wh/db/r2"
    spark.range(0, 4000).select(
        pmod(col("id"), lit(50)).as("a"),
        concat(lit("s"), pmod(col("id"), lit(7))).as("b"),
        col("id").as("v"))
      .repartition(4).write.format("lance").mode("overwrite").save(left)
    spark.range(0, 350).select(
        pmod(col("id"), lit(50)).as("a"),
        concat(lit("s"), pmod(col("id"), lit(7))).as("b"),
        col("id").as("w"))
      .repartition(3).write.format("lance").mode("overwrite").save(right)
    Lance.clusterByBucket(spark, left, Seq("a", "b"), numBuckets = 8)
    Lance.clusterByBucket(spark, right, Seq("a", "b"), numBuckets = 8)
    assertPure(left); assertPure(right)
    def q = spark.sql(
      """SELECT l.a, l.b, l.v, r.w FROM spj2.db.l2 l
        |JOIN spj2.db.r2 r ON l.a = r.a AND l.b = r.b""".stripMargin)
    val expected = q.collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)
    withSpjConfs {
      val df = q
      assert(df.collect().map(_.toSeq).toSet == expected,
        "composite-key storage-partitioned join changed the answer")
      val joins = joinNodes(df.queryExecution.executedPlan)
      assert(joins.nonEmpty, "no sort-merge/shuffled-hash join in the plan:\n" +
        df.queryExecution.executedPlan)
      joins.foreach { j =>
        j.children.foreach { side =>
          assert(!hasShuffleBelow(side) && !side.isInstanceOf[ShuffleExchangeLike],
            s"exchange under a join side of a co-bucketed composite-key join:\n$j")
        }
      }
      // a join on a strict SUBSET of the key columns cannot use the
      // layout — it must still answer correctly through the exchange
      val sub = spark.sql(
        """SELECT l.a, count(*) AS n FROM spj2.db.l2 l
          |JOIN spj2.db.r2 r ON l.a = r.a GROUP BY l.a""".stripMargin)
      assert(sub.count() == 50)
    }
    // SHOW TBLPROPERTIES documents the coverage requirement
    val props = spark.sql("SHOW TBLPROPERTIES spj2.db.l2").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("lance.bucket-by.storage-partitioned-join")
      .exists(_.startsWith("available (composite key")), props.toString)
    // a single-key table reports available
    val single = s"$wh/db/single"
    spark.range(0, 100).select(col("id").as("k"))
      .write.format("lance").mode("overwrite").save(single)
    Lance.clusterByBucket(spark, single, Seq("k"), numBuckets = 4)
    val props1 = spark.sql("SHOW TBLPROPERTIES spj2.db.single").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props1.get("lance.bucket-by.storage-partitioned-join")
      .contains("available"), props1.toString)
  }

  // Iceberg-style per-column widths: bucket(4, b) x bucket(8, a) — a
  // low-cardinality column stops over-bucketing without under-bucketing
  // the high-cardinality one. The fragment tag is the mixed-radix
  // composition; the scan reports bucket(8,a), bucket(4,b) transforms,
  // and SPJ engages exactly like the equal-width grid.
  test("mixed-width composite bucket key: zero-exchange join, exact answer") {
    val wh = tmpDir()
    spark.conf.set("spark.sql.catalog.spjw", "graft.catalog.LanceCatalog")
    spark.conf.set("spark.sql.catalog.spjw.warehouse", wh)
    val left = s"$wh/db/lw"
    val right = s"$wh/db/rw"
    spark.range(0, 4000).select(
        pmod(col("id"), lit(50)).as("a"),
        concat(lit("s"), pmod(col("id"), lit(7))).as("b"),
        col("id").as("v"))
      .repartition(4).write.format("lance").mode("overwrite").save(left)
    spark.range(0, 350).select(
        pmod(col("id"), lit(50)).as("a"),
        concat(lit("s"), pmod(col("id"), lit(7))).as("b"),
        col("id").as("w"))
      .repartition(3).write.format("lance").mode("overwrite").save(right)
    // declare through the SQL surface (the Iceberg spelling) on one side
    // and the Scala facade on the other - both must land the same spec
    spark.sql("CALL spjw.system.cluster_by_bucket('db.lw', " +
      "'bucket(8,a),bucket(4,b)', 16)")
    Lance.clusterByBucket(spark, right, Seq("a", "b"), numBuckets = 16,
      widths = Seq(8, 4))
    assertPure(left); assertPure(right)
    val spec = Lance.bucketSpec(spark, left).get
    assert(spec.widthsVec == Seq(8, 4) && spec.widths.isDefined, spec.toString)
    assert(spec == Lance.bucketSpec(spark, right).get,
      "SQL and facade declarations landed different specs")
    // mixed widths stamp the DISTINCT "grid-w" scheme: a pre-widths reader
    // (which only accepts "grid") must treat these tags as unreadable and
    // full-scan, rather than decode the mixed-radix digits with the
    // uniform max radix and silently mis-prune. This reader accepts both;
    // any UNKNOWN scheme stays conservative.
    assert(spec.scheme.contains("grid-w"), spec.toString)
    assert(spec.compositeTagsReadable)
    assert(!spec.copy(scheme = Some("grid-x")).compositeTagsReadable)
    def q = spark.sql(
      """SELECT l.a, l.b, l.v, r.w FROM spjw.db.lw l
        |JOIN spjw.db.rw r ON l.a = r.a AND l.b = r.b""".stripMargin)
    val expected = q.collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)
    withSpjConfs {
      val df = q
      assert(df.collect().map(_.toSeq).toSet == expected,
        "mixed-width storage-partitioned join changed the answer")
      val joins = joinNodes(df.queryExecution.executedPlan)
      assert(joins.nonEmpty, s"no join:\n${df.queryExecution.executedPlan}")
      joins.foreach(_.children.foreach { side =>
        assert(!hasShuffleBelow(side) && !side.isInstanceOf[ShuffleExchangeLike],
          s"exchange under a mixed-width co-bucketed join side:\n$side")
      })
    }
    // SHOW TBLPROPERTIES renders the mixed-width spec in the
    // re-declaration syntax
    val wprops = spark.sql("SHOW TBLPROPERTIES spjw.db.lw").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(wprops.get("lance.bucket-by").contains("bucket(8,a),bucket(4,b)"),
      wprops.toString)
    // fragment pruning decodes the mixed-radix digits: equality on the
    // NARROW column alone must prune (and never lose rows)
    val probe = spark.read.format("lance").load(left).filter(col("b") === "s3")
    val want = spark.read.format("lance").load(left).collect()
      .count(_.getAs[String]("b") == "s3")
    assert(probe.count() == want.toLong)
    // a legacy EQUAL-width declaration still round-trips (widths absent,
    // scalar numBuckets governs - the pre-widths on-disk shape)
    val legacy = s"$wh/db/legacy"
    spark.range(0, 200).select(pmod(col("id"), lit(10)).as("a"),
        pmod(col("id"), lit(3)).as("b"), col("id").as("v"))
      .write.format("lance").mode("overwrite").save(legacy)
    Lance.clusterByBucket(spark, legacy, Seq("a", "b"), numBuckets = 4)
    val lspec = Lance.bucketSpec(spark, legacy).get
    assert(lspec.widths.isEmpty && lspec.widthsVec == Seq(4, 4), lspec.toString)
    assert(spark.read.format("lance").load(legacy)
      .filter(col("a") === 7).count() == 20L)
  }

  test("skewed bucket: partially-clustered SPJ stays exchange-free and exact") {
    val wh = tmpDir()
    spark.conf.set("spark.sql.catalog.spjsk", "graft.catalog.LanceCatalog")
    spark.conf.set("spark.sql.catalog.spjsk.warehouse", wh)
    val left = s"$wh/db/skewfacts"
    val right = s"$wh/db/skewdims"
    // 90% of fact rows share ONE key: a hot bucket. Small files force
    // many chunks in it, which the per-chunk partition keys keep
    // splittable for the partially-clustered planner.
    spark.range(0, 8000)
      .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 64)
        .as("k"), col("id").as("v"))
      .repartition(8).write.format("lance")
      .option("write.max-rows-per-file", "500").mode("overwrite").save(left)
    spark.range(0, 64).select(col("id").as("k"), (col("id") * 10).as("w"))
      .write.format("lance").mode("overwrite").save(right)
    Lance.clusterByBucket(spark, left, Seq("k"), numBuckets = 8,
      maxRowsPerFile = 500L)
    Lance.clusterByBucket(spark, right, Seq("k"), numBuckets = 8)
    def q = spark.sql(
      """SELECT l.k, COUNT(*) AS n, SUM(l.v) AS sv, SUM(r.w) AS sw
        |FROM spjsk.db.skewfacts l JOIN spjsk.db.skewdims r ON l.k = r.k
        |GROUP BY l.k""".stripMargin)
    val expected = q.collect().map(_.toSeq).toSet
    withSpjConfs {
      val saved = spark.conf.getOption(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
        "true")
      try {
        val df = q
        assert(df.collect().map(_.toSeq).toSet == expected,
          "partially-clustered SPJ changed the answer")
        val joins = joinNodes(df.queryExecution.executedPlan)
        assert(joins.nonEmpty, s"no join:\n${df.queryExecution.executedPlan}")
        joins.foreach(_.children.foreach { side =>
          assert(!hasShuffleBelow(side) && !side.isInstanceOf[ShuffleExchangeLike],
            s"exchange under a partially-clustered SPJ side:\n$side")
        })
      } finally saved match {
        case Some(v) => spark.conf.set(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", v)
        case None => spark.conf.unset(
          "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled")
      }
    }
  }

  test("three-column grid: purity, digit order, and subset-digit pruning") {
    val dir = tmpDir()
    spark.range(0, 3000).select(
        pmod(col("id"), lit(20)).as("a"),
        concat(lit("s"), pmod(col("id"), lit(5))).as("b"),
        (col("id") % 2 === 0).as("c"),
        col("id").as("v"))
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("a", "b", "c"), numBuckets = 4)
    assertPure(dir) // re-derives the k=3 row-major digit composition
    val m = manifest(dir)
    // digits decompose in key-column order: tag = ((d_a*4)+d_b)*4+d_c
    m.fragments.foreach { f =>
      val ds = BucketHash.gridDigits(f.bucket.get, 3, 4)
      assert(ds.length == 3 && ds.forall(d => d >= 0 && d < 4))
      assert(BucketHash.gridDigits(f.bucket.get, 3, 4).zipWithIndex
        .map { case (d, i) => d * math.pow(4, 2 - i).toInt }.sum == f.bucket.get)
    }
    import org.apache.spark.sql.sources._
    // middle-column-only equality prunes its digit, correctly
    val kept = BucketPrune.prune(m, Seq(EqualTo("b", "s3")), m.fragments)
    assert(kept.size < m.fragments.size,
      s"middle-digit pruning kept ${kept.size}/${m.fragments.size}")
    assert(spark.read.parquet(kept.map(f =>
      graft.format.LanceFormat.fragmentPath(new Path(dir), f.file).toString): _*)
      .filter(col("b") === "s3").count() ==
      spark.read.format("lance").load(dir).filter(col("b") === "s3").count())
    // grid width guard: 4^3=64 tags fine; an absurd grid refuses
    intercept[IllegalArgumentException](
      Lance.clusterByBucket(spark, dir, Seq("a", "b", "c"), numBuckets = 2048))
  }

  test("legacy (scheme-less) composite tags are never decoded as grid digits") {
    val dir = tmpDir()
    spark.range(0, 2000).select(
        pmod(col("id"), lit(30)).as("a"),
        concat(lit("s"), pmod(col("id"), lit(5))).as("b"),
        col("id").as("v"))
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("a", "b"), numBuckets = 4)
    val m0 = manifest(dir)
    assert(m0.bucketBy.get.scheme.contains("grid"))
    // simulate a pre-grid table: same spec, no scheme marker (its tags
    // would have been tuple hashes; decoding them as digits mis-prunes)
    graft.format.LanceFormat.transact(fs(dir),
        graft.format.LanceFormat.versionsPath(new Path(dir)), m0.operation) { prev =>
      prev.get.copy(bucketBy = prev.get.bucketBy.map(_.copy(scheme = None)))
    }
    val m1 = manifest(dir)
    assert(!m1.bucketBy.get.compositeTagsReadable)
    import org.apache.spark.sql.sources._
    // pruning withdraws entirely (never wrong, just conservative)
    assert(BucketPrune.prune(m1,
      Seq(EqualTo("a", 5L), EqualTo("b", "s3")), m1.fragments).size ==
      m1.fragments.size)
    // and re-declaring the layout re-tags under the grid scheme
    Lance.clusterByBucket(spark, dir, Seq("a", "b"), numBuckets = 4)
    val m2 = manifest(dir)
    assert(m2.bucketBy.get.compositeTagsReadable)
    assert(BucketPrune.prune(m2,
      Seq(EqualTo("a", 5L), EqualTo("b", "s3")), m2.fragments).size <
      m2.fragments.size)
    assertPure(dir)
  }

  test("one side bucketed: v2 bucketing shuffle re-buckets only the other side") {
    val wh = tmpDir()
    spark.conf.set("spark.sql.catalog.spjs", "graft.catalog.LanceCatalog")
    spark.conf.set("spark.sql.catalog.spjs.warehouse", wh)
    val fact = s"$wh/db/fact1"
    val dim = s"$wh/db/dim1"
    spark.range(0, 5000)
      .select(pmod(col("id") * 937, lit(300)).as("k"), col("id").as("v"))
      .repartition(4).write.format("lance").mode("overwrite").save(fact)
    spark.range(0, 300).select(col("id").as("k"), col("id").as("w"))
      .repartition(2).write.format("lance").mode("overwrite").save(dim) // NOT bucketed
    Lance.clusterByBucket(spark, fact, Seq("k"), numBuckets = 8)
    def q = spark.sql(
      "SELECT f.k, f.v, d.w FROM spjs.db.fact1 f JOIN spjs.db.dim1 d ON f.k = d.k")
    val expected = q.collect().map(_.toSeq).toSet
    withSpjConfs {
      val saved = spark.conf.getOption("spark.sql.sources.v2.bucketing.shuffle.enabled")
      try {
        spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
        val df = q
        assert(df.collect().map(_.toSeq).toSet == expected)
        val joins = joinNodes(df.queryExecution.executedPlan)
        assert(joins.nonEmpty)
        // the bucketed fact side must NOT shuffle; the dim side may (it
        // re-buckets INTO the fact's layout via the V2 bucket function)
        val factSides = joins.map(_.children.head)
        factSides.foreach { side =>
          assert(!hasShuffleBelow(side) && !side.isInstanceOf[ShuffleExchangeLike],
            s"bucketed side shuffled:\n$side")
        }
      } finally saved match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.shuffle.enabled")
      }
    }
  }

  test("streaming epochs into a bucketed table stay bucket-pure") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = tmpDir()
    spark.range(0, 200).select(col("id").as("k"), col("id").as("v"))
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("k"), numBuckets = 4)
    val in = MemoryStream[(Long, Long)](spark)
    val q = in.toDF().toDF("k", "v")
      .writeStream.format("lance")
      .option("checkpointLocation", s"$dir-ckpt")
      .outputMode("append").start(dir)
    try {
      in.addData((200L, 1L), (201L, 2L), (202L, 3L))
      q.processAllAvailable()
      in.addData((203L, 4L))
      q.processAllAvailable()
    } finally q.stop()
    assertPure(dir)
    assert(spark.read.format("lance").load(dir).count() == 204)
  }

  test("an untagged fragment disables the claim; the join still answers") {
    val wh = tmpDir()
    spark.conf.set("spark.sql.catalog.spjx", "graft.catalog.LanceCatalog")
    spark.conf.set("spark.sql.catalog.spjx.warehouse", wh)
    val left = s"$wh/db/l"
    val right = s"$wh/db/r"
    spark.range(0, 500).select(col("id").as("k"), col("id").as("v"))
      .write.format("lance").mode("overwrite").save(left)
    spark.range(0, 500).select(col("id").as("k"), col("id").as("w"))
      .write.format("lance").mode("overwrite").save(right)
    Lance.clusterByBucket(spark, left, Seq("k"), numBuckets = 4)
    // declare WITHOUT rewriting on the right: existing fragments untagged
    LanceFormat.commitBucketBy(fs(right), new Path(right), 4, Seq("k"))
    assert(manifest(right).fragments.exists(_.bucket.isEmpty))
    withSpjConfs {
      val df = spark.sql(
        "SELECT l.k, l.v, r.w FROM spjx.db.l l JOIN spjx.db.r r ON l.k = r.k")
      assert(df.count() == 500) // correct despite the disabled claim
    }
  }

  test("bucket-key point lookups prune fragments at the manifest") {
    val dir = tmpDir()
    spark.range(0, 4000).select(col("id").as("k"), col("id").as("v"))
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("k"), numBuckets = 16)
    val m = manifest(dir)
    assert(m.fragments.size >= 8, s"want many fragments, got ${m.fragments.size}")
    val kept = BucketPrune.prune(m,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 1234L)), m.fragments)
    assert(kept.size < m.fragments.size / 2,
      s"bucket pruning kept ${kept.size} of ${m.fragments.size}")
    // conservative: the matching row's fragment survives
    assert(spark.read.format("lance").load(dir)
      .filter(col("k") === 1234L).count() == 1)
    val keptIn = BucketPrune.prune(m,
      Seq(org.apache.spark.sql.sources.In("k", Array(1L, 2L))), m.fragments)
    assert(keptIn.size <= 2 * math.max(1, m.fragments.size / 16 + 1))
    // a filter on a NON-key column prunes nothing here
    val keptOther = BucketPrune.prune(m,
      Seq(org.apache.spark.sql.sources.EqualTo("v", 1L)), m.fragments)
    assert(keptOther.size == m.fragments.size)
  }

  test("composite-key point lookups prune when every component is bound") {
    val dir = tmpDir()
    spark.range(0, 4000).select(
        pmod(col("id"), lit(40)).as("a"),
        concat(lit("s"), pmod(col("id"), lit(7))).as("b"),
        col("id").as("v"))
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("a", "b"), numBuckets = 16)
    val m = manifest(dir)
    assert(m.fragments.size >= 8)
    import org.apache.spark.sql.sources._
    // both components equality-bound: prunes to one tuple bucket
    val kept = BucketPrune.prune(m,
      Seq(EqualTo("a", 5L), EqualTo("b", "s3")), m.fragments)
    assert(kept.size < m.fragments.size / 2,
      s"composite pruning kept ${kept.size}/${m.fragments.size}")
    // correctness: the matching rows' fragments survive end to end
    assert(spark.read.format("lance").load(dir)
      .filter(col("a") === 5L && col("b") === "s3").count() ==
      spark.read.parquet(m.fragments.map(f =>
        graft.format.LanceFormat.fragmentPath(new Path(dir), f.file).toString): _*)
        .filter(col("a") === 5L && col("b") === "s3").count())
    // one component unbound: grid tags still prune on the BOUND digit
    // (the old tuple-hash layout needed every component) — and stay
    // correct: every row with a=5 survives
    val keptHalf = BucketPrune.prune(m, Seq(EqualTo("a", 5L)), m.fragments)
    assert(keptHalf.size < m.fragments.size / 4,
      s"single-digit pruning kept ${keptHalf.size}/${m.fragments.size}")
    assert(spark.read.parquet(keptHalf.map(f =>
      graft.format.LanceFormat.fragmentPath(new Path(dir), f.file).toString): _*)
      .filter(col("a") === 5L).count() ==
      spark.read.format("lance").load(dir).filter(col("a") === 5L).count())
    // IN × IN: per-digit unions intersect, bounded and conservative
    val keptIn = BucketPrune.prune(m,
      Seq(In("a", Array(1L, 2L)), In("b", Array("s1", "s2"))), m.fragments)
    assert(keptIn.size <= m.fragments.size)
    assert(spark.read.format("lance").load(dir)
      .filter(col("a").isin(1L, 2L) && col("b").isin("s1", "s2")).count() > 0)
  }

  test("rename remaps the spec, drop clears it, widen refuses, z-order excludes") {
    val dir = tmpDir()
    spark.range(0, 100)
      .select(col("id").cast("int").as("k"), col("id").as("v"), col("id").as("z"))
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("k"), numBuckets = 4)
    // z-order spec refuses while bucketed
    val exZ = intercept[IllegalArgumentException] {
      Lance.cluster(spark, dir, Seq("v"))
    }
    assert(exZ.getMessage.contains("mutually exclusive"))
    // widening the key refuses (the hash is type-dependent)
    val exW = intercept[IllegalArgumentException] {
      Lance.widenColumnType(spark, dir, "k", org.apache.spark.sql.types.LongType)
    }
    assert(exW.getMessage.contains("bucket"))
    // rename remaps
    Lance.renameColumn(spark, dir, "k", "key")
    assert(Lance.bucketSpec(spark, dir).exists(_.columns == Seq("key")))
    assertPure(dir) // purity judged under the new logical name
    // drop of the key clears the whole spec (commitAlter's self-heal)
    val prev = manifest(dir)
    LanceFormat.commitAlter(fs(dir), new Path(dir),
      org.apache.spark.sql.types.StructType(
        prev.schema.fields.filterNot(_.name == "key")),
      droppedColumns = Seq("key"))
    assert(Lance.bucketSpec(spark, dir).isEmpty)
  }

  test("re-declaring a different spec clears stale tags before the rewrite") {
    val dir = tmpDir()
    spark.range(0, 2000).select(col("id").as("k"), col("id").as("v"))
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("k"), numBuckets = 8)
    assert(manifest(dir).fragments.forall(_.bucket.isDefined))

    // the mid-window state clusterByBucket goes through: new spec
    // DECLARED, routing rewrite not yet run. Tags computed under n=8 read
    // through n=16 would silently drop matching fragments — the commit
    // must clear them so this window is merely conservative.
    LanceFormat.commitBucketBy(fs(dir), new Path(dir), 16, Seq("k"))
    val mid = manifest(dir)
    assert(mid.bucketBy.get.numBuckets == 16)
    assert(mid.fragments.forall(_.bucket.isEmpty),
      "stale n=8 tags survived a spec change to n=16")
    // cleared tags prune nothing (conservative), so every key still reads
    val kept = BucketPrune.prune(mid,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 1234L)), mid.fragments)
    assert(kept.size == mid.fragments.size)
    assert(spark.read.format("lance").load(dir)
      .filter(col("k") === 1234L).count() == 1)

    // idempotent re-declaration of the SAME spec keeps the tags
    Lance.clusterByBucket(spark, dir, Seq("k"), numBuckets = 16)
    assert(manifest(dir).fragments.forall(_.bucket.isDefined))
    LanceFormat.commitBucketBy(fs(dir), new Path(dir), 16, Seq("k"))
    assert(manifest(dir).fragments.forall(_.bucket.isDefined),
      "same-spec re-declaration must not invalidate tags")
    assertPure(dir)
  }

  test("renamed bucket key: logical-name filters (the DML path) still prune") {
    val dir = tmpDir()
    spark.range(0, 4000).select(col("id").as("k"), col("id").as("v"))
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("k"), numBuckets = 16)
    LanceFormat.commitRename(fs(dir), new Path(dir), "k", "key")
    val m = manifest(dir)
    assert(m.bucketBy.get.columns == Seq("key"))
    assert(m.physicalName("key") == "k")
    import org.apache.spark.sql.sources.EqualTo
    // DML scoping passes LOGICAL names; the scan's runtime-filter path
    // passes PHYSICAL ones — both must reach the same buckets
    val byLogical = BucketPrune.prune(m, Seq(EqualTo("key", 1234L)), m.fragments)
    val byPhysical = BucketPrune.prune(m, Seq(EqualTo("k", 1234L)), m.fragments)
    assert(byLogical.map(_.file) == byPhysical.map(_.file))
    assert(byLogical.size < m.fragments.size / 2,
      s"logical-name pruning inert after rename: kept ${byLogical.size}/${m.fragments.size}")
    // and the scoped DELETE actually deletes the right row
    val r = graft.operators.Dml.deleteWhere(spark, dir,
      col("key") === 1234L)
    assert(r.rowsChanged == 1L)
    assert(r.candidateFragments < m.fragments.size,
      s"DML bucket scoping read ${r.candidateFragments} of ${m.fragments.size} fragments")
    assert(spark.read.format("lance").load(dir)
      .filter(col("key") === 1234L).count() == 0)
  }

  test("unclustered wide-bucket append: engine-planned distribution, no file explosion") {
    val dir = tmpDir()
    spark.range(0, 64).select(col("id").as("k"), col("id").as("v"))
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("k"), numBuckets = 64)
    val before = manifest(dir).fragments.size
    // adversarial input: ONE partition, keys interleaved across all 64
    // buckets — without the engine-planned write distribution this either
    // holds 64 open parquet writers (executor memory) or, capped, seals a
    // file per handful of rows (file-count explosion)
    spark.range(64, 6464).select(col("id").as("k"), col("id").as("v"))
      .coalesce(1)
      .write.format("lance").mode("append").save(dir)
    val m = manifest(dir)
    assertPure(dir)
    val newFrags = m.fragments.size - before
    // task-per-bucket alignment: at most one file per bucket touched
    assert(newFrags <= 64, s"append produced $newFrags fragments for 64 buckets")
    assert(spark.read.format("lance").load(dir).count() == 6464)
    // and the aligned tasks wrote KEY-SORTED files (the ordering default)
    val f = m.fragments.maxBy(_.rowCount)
    val ks = spark.read.parquet(
      LanceFormat.fragmentPath(new Path(dir), f.file).toString)
      .select("k").collect().map(_.getLong(0)).toSeq
    assert(ks == ks.sorted, "bucket file is not key-sorted")
  }

  test("reported ordering: the SPJ sort-merge join drops its sorts too") {
    val wh = tmpDir()
    val dir1 = s"$wh/db/t1"; val dir2 = s"$wh/db/t2"
    spark.range(0, 3000).select(col("id").as("k"), col("id").as("a"))
      .write.format("lance").mode("overwrite").save(dir1)
    spark.range(0, 3000).filter(pmod(col("id"), lit(3)) === 0)
      .select(col("id").as("k"), col("id").as("b"))
      .write.format("lance").mode("overwrite").save(dir2)
    Lance.clusterByBucket(spark, dir1, Seq("k"), numBuckets = 8)
    Lance.clusterByBucket(spark, dir2, Seq("k"), numBuckets = 8)
    // post-maintenance state: one key-sorted file per bucket, observed
    manifest(dir1).fragments.foreach(f => assert(f.sorted.contains(true)))

    spark.conf.set("spark.sql.catalog.spj_ord", "graft.catalog.LanceCatalog")
    spark.conf.set("spark.sql.catalog.spj_ord.warehouse", wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    try {
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      val l = spark.table("spj_ord.db.t1")
      val r = spark.table("spj_ord.db.t2")
      val joined = l.join(r, "k").groupBy().agg(
        count(lit(1)).as("n"), sum(col("a") + col("b")).as("s"))
      val rows = joined.collect()
      assert(rows(0).getLong(0) == 1000)
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other +: other.children.flatMap(walk)
      }
      val plan = joined.queryExecution.executedPlan
      val smj = walk(plan).collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"want a sort-merge join:\n$plan")
      smj.foreach(_.children.foreach { side =>
        assert(walk(side).forall(!_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
          s"reported ordering not used - side still sorts:\n$side")
        assert(walk(side).forall(!_.isInstanceOf[ShuffleExchangeLike]),
          s"SPJ side still shuffles:\n$side")
      })

      // an UNSORTED bucketed write withdraws the claim: same answer,
      // sorts back in the plan, never a wrong merge
      spark.range(3000, 3100).sort(col("id").desc)
        .select(col("id").as("k"), col("id").as("a"))
        .coalesce(1)
        .write.format("lance").mode("append")
        .option("write.distribution-mode", "none").save(dir1)
      assert(manifest(dir1).fragments.exists(_.sorted.contains(false)),
        "descending write must be OBSERVED unsorted")
      spark.sql("REFRESH TABLE spj_ord.db.t1")
      val joined2 = spark.table("spj_ord.db.t1").join(r, "k")
        .groupBy().agg(count(lit(1)).as("n"))
      assert(joined2.collect()(0).getLong(0) == 1000)
      val smj2 = walk(joined2.queryExecution.executedPlan)
        .collect { case j: SortMergeJoinExec => j }
      assert(smj2.isEmpty || smj2.exists(_.children.exists(side =>
        walk(side).exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]))),
        "unsorted fragment present but no side re-sorts")
    } finally {
      saved.foreach {
        case (c, Some(v)) => spark.conf.set(c, v)
        case (c, None) => spark.conf.unset(c)
      }
      spark.conf.unset("spark.sql.catalog.spj_ord")
      spark.conf.unset("spark.sql.catalog.spj_ord.warehouse")
    }
  }

  test("renamed bucket key: zero-shuffle AND sort-free claims survive") {
    val wh = tmpDir()
    val dir1 = s"$wh/db/t1"; val dir2 = s"$wh/db/t2"
    spark.range(0, 2000).select(col("id").as("k"), col("id").as("a"))
      .write.format("lance").mode("overwrite").save(dir1)
    spark.range(0, 2000).filter(pmod(col("id"), lit(2)) === 0)
      .select(col("id").as("k"), col("id").as("b"))
      .write.format("lance").mode("overwrite").save(dir2)
    Lance.clusterByBucket(spark, dir1, Seq("k"), numBuckets = 4)
    Lance.clusterByBucket(spark, dir2, Seq("k"), numBuckets = 4)
    // RENAME the bucket key on one side: the spec remaps (logical name),
    // fragment files keep the physical name — the ordering claim must
    // resolve through the mapping, not silently withdraw
    Lance.renameColumn(spark, dir1, "k", "key")
    assert(manifest(dir1).bucketBy.get.columns == Seq("key"))
    spark.conf.set("spark.sql.catalog.spj_ren", "graft.catalog.LanceCatalog")
    spark.conf.set("spark.sql.catalog.spj_ren.warehouse", wh)
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    try {
      confs.foreach { case (c, v) => spark.conf.set(c, v) }
      val l = spark.table("spj_ren.db.t1")
      val r = spark.table("spj_ren.db.t2")
      val joined = l.join(r, l("key") === r("k"))
        .groupBy().agg(count(lit(1)).as("n"))
      assert(joined.collect()(0).getLong(0) == 1000)
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other +: other.children.flatMap(walk)
      }
      val smj = walk(joined.queryExecution.executedPlan)
        .collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, "want a sort-merge join")
      smj.foreach(_.children.foreach { side =>
        assert(walk(side).forall(!_.isInstanceOf[ShuffleExchangeLike]),
          s"SPJ must survive the rename - side shuffles:\n$side")
        assert(walk(side).forall(!_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
          s"sort-free claim must survive the rename - side sorts:\n$side")
      })
    } finally {
      saved.foreach {
        case (c, Some(v)) => spark.conf.set(c, v)
        case (c, None) => spark.conf.unset(c)
      }
      spark.conf.unset("spark.sql.catalog.spj_ren")
      spark.conf.unset("spark.sql.catalog.spj_ren.warehouse")
    }
  }

  test("PROPERTY: observed sortedness is truthful under random inputs and key types") {
    // a WRONG sorted=true silently corrupts a sort-free merge join —
    // this is the invariant with the highest failure stakes, so verify
    // it from the FILES, not the writer's bookkeeping: for every
    // produced fragment, sorted==true must imply the parquet rows are
    // non-decreasing by key, and sorted==false must have a witness.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val scenarios = for {
      n <- Gen.choose(2, 5)          // buckets
      rows <- Gen.choose(20, 200)
      shuffle <- Gen.oneOf(true, false)
      keyKind <- Gen.oneOf("long", "string")
    } yield (n, rows, shuffle, keyKind)
    (0 until 8).foreach { i =>
      val (n, rows, shuffle, keyKind) =
        scenarios.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val dir = tmpDir()
      val base = spark.range(0, rows.toLong).select(
        (if (keyKind == "long") col("id")
         else concat(lit("k"), lpad((col("id") * 7919 % 1000).cast("string"), 4, "0")))
          .as("k"),
        col("id").as("v"))
      base.limit(0).write.format("lance").mode("overwrite").save(dir)
      LanceFormat.commitBucketBy(fs(dir), new Path(dir), n, Seq("k"))
      val laid = if (shuffle) base.orderBy(rand(i.toLong)) else base.orderBy(col("k"))
      laid.coalesce(1).write.format("lance").mode("append")
        .option("write.distribution-mode", "none") // adversarial: raw order
        .save(dir)
      val m = manifest(dir)
      m.fragments.foreach { f =>
        val raw = spark.read.parquet(
            LanceFormat.fragmentPath(new Path(dir), f.file).toString)
          .select(col("k")).collect()
        val isSorted =
          if (keyKind == "long") {
            val ks = raw.map(_.getLong(0)).toSeq
            ks == ks.sorted
          } else {
            val ks = raw.map(_.getString(0)).toSeq
            ks == ks.sorted
          }
        assert(f.sorted.isDefined, s"routed fragment ${f.file} missing verdict")
        // the failure that matters: claiming sorted over unsorted bytes
        assert(!(f.sorted.contains(true) && !isSorted),
          s"scenario $i: fragment ${f.file} claims sorted over UNSORTED rows")
        // and the claim is not uselessly conservative on sorted input
        if (isSorted && !shuffle) assert(f.sorted.contains(true),
          s"scenario $i: sorted input not observed sorted")
      }
      assertPure(dir)
    }
  }

  test("compactSmall keeps bucket files key-sorted (row-group pruning inside a bucket)") {
    val dir = tmpDir()
    spark.range(0, 400).select(col("id").as("k"), col("id").as("v"))
      .write.format("lance").mode("overwrite").save(dir)
    Lance.clusterByBucket(spark, dir, Seq("k"), numBuckets = 4)
    // a tail of small DESCENDING-key appends (adversarial to sortedness)
    Seq(900L, 1300L, 1700L).foreach { base =>
      spark.range(0, 20).select((lit(base) - col("id")).as("k"),
          col("id").as("v"))
        .coalesce(1).write.format("lance").mode("append").save(dir)
    }
    Lance.compactSmall(spark, dir, minRows = 50)
    assertPure(dir)
    val m = manifest(dir)
    m.fragments.foreach { f =>
      val ks = spark.read.parquet(
        LanceFormat.fragmentPath(new Path(dir), f.file).toString)
        .select("k").collect().map(_.getLong(0)).toSeq
      assert(ks == ks.sorted,
        s"fragment ${f.file} lost the key-sorted invariant after compactSmall")
    }
    assert(spark.read.format("lance").load(dir).count() == 460)
  }

  test("bucket evolution: re-declare, then CALL rebucket restores shuffle-free joins") {
    val wh = tmpDir()
    spark.conf.set("spark.sql.catalog.rbk", "graft.catalog.LanceCatalog")
    spark.conf.set("spark.sql.catalog.rbk.warehouse", wh)
    try {
      val left = s"$wh/db/facts"
      val right = s"$wh/db/dims"
      spark.range(0, 5000)
        .select(pmod(col("id") * 937, lit(1000)).as("k"), col("id").as("amount"))
        .repartition(4).write.format("lance").mode("overwrite").save(left)
      spark.range(0, 1000)
        .select(col("id").as("k"), concat(lit("g"), pmod(col("id"), lit(7))).as("grp"))
        .repartition(4).write.format("lance").mode("overwrite").save(right)
      Lance.clusterByBucket(spark, left, Seq("k"), numBuckets = 4)
      Lance.clusterByBucket(spark, right, Seq("k"), numBuckets = 4)

      def q: DataFrame = spark.sql(
        """SELECT f.k, f.amount, d.grp
          |FROM rbk.db.facts f JOIN rbk.db.dims d ON f.k = d.k""".stripMargin)
      val expected = q.collect().map(_.toSeq).toSet

      // DECLARE-only evolution to n=8 (the realistic window: the spec
      // changed, nothing re-routed yet) — every tag clears, SPJ withdraws
      Seq(left, right).foreach(p =>
        LanceFormat.commitBucketBy(fs(p), new Path(p), 8, Seq("k")))
      assert(manifest(left).fragments.forall(_.bucket.isEmpty))
      withSpjConfs {
        // correct, but shuffling (conservative degradation)
        assert(q.collect().map(_.toSeq).toSet == expected)
      }

      // one maintenance call per table re-routes ALL untagged fragments
      val r = spark.sql("CALL rbk.rebucket('db.facts')").collect()(0)
      assert(r.getInt(0) > 0 && r.getInt(1) == 0,
        s"rebucket must clear the untagged set: $r")
      val r2 = spark.sql("CALL rbk.rebucket('db.dims')").collect()(0)
      assert(r2.getInt(1) == 0)
      assertPure(left); assertPure(right)

      // SPJ engages again: zero exchange under either join side
      withSpjConfs {
        val df = q
        assert(df.collect().map(_.toSeq).toSet == expected)
        val joins = joinNodes(df.queryExecution.executedPlan)
        assert(joins.nonEmpty, df.queryExecution.executedPlan.toString)
        joins.foreach(_.children.foreach { side =>
          assert(!hasShuffleBelow(side) && !side.isInstanceOf[ShuffleExchangeLike],
            s"exchange under a join side after rebucket:\n$side")
        })
      }

      // idempotent: nothing left to route
      val r3 = spark.sql("CALL rbk.rebucket('db.facts')").collect()(0)
      assert(r3.getInt(0) == 0 && r3.getInt(1) == 0)
      // no declared layout → refuse loudly
      val bare = s"$wh/db/bare"
      spark.range(0, 10).select(col("id").as("k"))
        .write.format("lance").mode("overwrite").save(bare)
      val e = intercept[Exception] { Lance.rebucket(spark, bare) }
      assert(e.getMessage.contains("no bucket layout"), e.getMessage)
    } finally {
      spark.conf.unset("spark.sql.catalog.rbk")
      spark.conf.unset("spark.sql.catalog.rbk.warehouse")
    }
  }
}
