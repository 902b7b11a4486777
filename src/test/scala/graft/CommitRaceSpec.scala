package graft

import graft.format.{FragmentMeta, LanceFormat, Manifest, ManifestPublisher}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Racing-committer gates for the manifest publish seam: two concurrent
  * `commitAppend`s must BOTH land (no lost update, versions dense), on
  * both the local hard-link publisher and the object-store conditional-put
  * publisher (via [[CondPutMemoryFileSystem]], whose create-if-absent
  * fails at close exactly like a real S3 `If-None-Match` PUT).
  */
class CommitRaceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val schema = new StructType().add("id", LongType).add("v", StringType)

  /** Every directory a test created, deleted after the suite. */
  private val created = scala.collection.mutable.ArrayBuffer.empty[(FileSystem, Path)]

  override def afterAll(): Unit =
    try created.synchronized(created.foreach { case (fs, p) => fs.delete(p, true) })
    finally super.afterAll()

  private def localRoot(): (FileSystem, Path) = {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "race-")
    val root = new Path(s"${dir.toAbsolutePath}/tbl")
    val fs = LanceFormat.fileSystem(root, new Configuration())
    created.synchronized(created += ((fs, root.getParent)))
    (fs, root)
  }

  private def memRoot(): (FileSystem, Path) = {
    val conf = new Configuration()
    conf.set("fs.condmem.impl", classOf[CondPutMemoryFileSystem].getName)
    val root = new Path(s"condmem://bucket/tbl-${UUID.randomUUID()}")
    val fs = root.getFileSystem(conf)
    created.synchronized(created += ((fs, root)))
    (fs, root)
  }

  /** Deterministic interleaver: the thread named `pausedThread` parks
    * right before its publish — after it has read the latest manifest and
    * built its merged commit — until the other committer has fully landed.
    * Forces the exact lost-update window the retry loop must survive.
    */
  private class GatedPublisher(inner: ManifestPublisher, gate: CountDownLatch,
      pausedThread: String) extends ManifestPublisher {
    /** Opens once the paused thread has reached its first publish. */
    val arrived = new CountDownLatch(1)
    override def publish(fs: FileSystem, target: Path, bytes: Array[Byte]): Boolean = {
      if (Thread.currentThread().getName == pausedThread) {
        arrived.countDown()
        assert(gate.await(30, TimeUnit.SECONDS), "winner never landed")
      }
      inner.publish(fs, target, bytes)
    }
  }

  /** Forces the lost-update window on the `condmem` store through the
    * registry seam (no commit function takes a publisher for this): runs
    * `loser` on its own thread until it parks right before its first
    * publish, lands `winner` on the calling thread, then lets the loser
    * publish into the lost race. Returns what the loser threw, if anything.
    */
  private def parkedRace(loser: => Unit)(winner: => Unit): Option[Throwable] = {
    val gate = new CountDownLatch(1)
    val pub = new GatedPublisher(ManifestPublisher.ConditionalPut, gate, "parked-loser")
    ManifestPublisher.register("condmem", pub)
    var thrown: Option[Throwable] = None
    try {
      val t = new Thread(() =>
        try loser catch { case e: Throwable => thrown = Some(e) }, "parked-loser")
      t.start()
      while (!pub.arrived.await(10, TimeUnit.MILLISECONDS) && t.isAlive) ()
      assert(pub.arrived.getCount == 0,
        s"the loser ended before its publish: ${thrown.map(_.toString)}")
      winner
      gate.countDown()
      t.join(30000)
      assert(!t.isAlive, "the loser never finished")
    } finally {
      gate.countDown()
      ManifestPublisher.unregister("condmem")
    }
    thrown
  }

  /** Set-up commits on `condmem`, outside any registered override. */
  private val condPut = Some(ManifestPublisher.ConditionalPut: ManifestPublisher)

  /** Hadoop conf of the shared session, able to resolve `condmem://`. */
  private def sparkWithCondmem(): org.apache.spark.sql.SparkSession = {
    val spark = TestSpark.spark
    spark.sparkContext.hadoopConfiguration.set("fs.condmem.impl",
      classOf[CondPutMemoryFileSystem].getName)
    spark
  }

  test("a create that loses the publish race refuses; the winner's head stands") {
    val (fs, root) = memRoot()
    val thrown = parkedRace(LanceFormat.create(fs, root, schema)) {
      LanceFormat.commitAppend(fs, root, schema, Seq(FragmentMeta(0, "w.parquet", 5)))
    }
    assert(thrown.exists(e => e.isInstanceOf[IllegalArgumentException] &&
      e.getMessage.contains("already exists")), s"loser threw $thrown")
    assert(LanceFormat.listVersions(fs, root) == Seq(1L),
      "the losing create must not publish its empty schema over the winner")
    assert(LanceFormat.readLatest(fs, root).get.fragments.map(_.file) == Seq("w.parquet"))
  }

  test("a clone that loses the publish race refuses; the winner's head stands") {
    val spark = sparkWithCondmem()
    val (fs, src) = memRoot()
    LanceFormat.commitAppend(fs, src, schema, Seq(FragmentMeta(0, "src.parquet", 3)),
      publisher = condPut)
    val (_, dst) = memRoot()
    val thrown = parkedRace(Lance.cloneTable(spark, src.toString, dst.toString)) {
      LanceFormat.commitAppend(fs, dst, schema, Seq(FragmentMeta(0, "w.parquet", 5)))
    }
    assert(thrown.exists(e => e.isInstanceOf[IllegalArgumentException] &&
      e.getMessage.contains("already exists")), s"loser threw $thrown")
    assert(LanceFormat.listVersions(fs, dst) == Seq(1L),
      "the losing clone must not publish borrowed fragments over the winner")
    val head = LanceFormat.readLatest(fs, dst).get
    assert(head.fragments.map(_.file) == Seq("w.parquet") &&
      head.operation.contains("append"))
  }

  test("restore keeps a replay guard committed while it was parked") {
    val spark = sparkWithCondmem()
    val (fs, root) = memRoot()
    fs.create(new Path(root, "data/a.parquet")).close()
    LanceFormat.commitAppend(fs, root, schema, Seq(FragmentMeta(0, "a.parquet", 2)),
      publisher = condPut)
    LanceFormat.commitAppend(fs, root, schema, Seq(FragmentMeta(0, "b.parquet", 2)),
      publisher = condPut)
    val thrown = parkedRace(Lance.restore(spark, root.toString, 1L)) {
      // a streaming epoch lands between restore's head read and its publish
      LanceFormat.commitAppend(fs, root, schema, Seq(FragmentMeta(0, "c.parquet", 2)),
        streamEpoch = Some(("q", 7L)))
    }
    assert(thrown.isEmpty, s"restore threw $thrown")
    assert(LanceFormat.listVersions(fs, root) == (1L to 4L))
    val head = LanceFormat.readLatest(fs, root).get
    assert(head.operation.contains("restore") &&
      head.fragments.map(_.file) == Seq("a.parquet"))
    assert(head.streamEpochFor("q").contains(7L),
      "the restored head must carry the guard of the epoch that landed " +
        "inside the window, or a replay of it would land its rows again")
  }

  test("every metadata commit kind re-derives over a concurrent property commit") {
    val wide = schema.add("n", IntegerType)
    // (kind, commit, effect the landed manifest must show)
    val kinds: Seq[(String, (FileSystem, Path) => Unit, Manifest => Boolean)] = Seq(
      ("alter", (fs, root) => LanceFormat.commitAlter(fs, root,
        wide.add("extra", StringType), Seq.empty),
        m => m.schema.fieldNames.contains("extra")),
      ("rename", (fs, root) => LanceFormat.commitRename(fs, root, "v", "w"),
        m => m.schema.fieldNames.contains("w") && m.physicalName("w") == "v"),
      ("widen", (fs, root) => LanceFormat.commitWiden(fs, root, "n", LongType),
        m => m.schema("n").dataType == LongType),
      ("clusterBy", (fs, root) => LanceFormat.commitClusterBy(fs, root, Seq("id")),
        m => m.clusterBy.contains(Seq("id"))),
      ("bucketBy", (fs, root) => LanceFormat.commitBucketBy(fs, root, 4, Seq("id")),
        m => m.bucketBy.exists(_.columns == Seq("id"))),
      ("bloomFilters", (fs, root) => LanceFormat.commitBloomFilters(fs, root, Seq("v")),
        m => m.bloomFilters.contains(Seq("v"))),
      ("properties", (fs, root) => LanceFormat.commitProperties(fs, root, Map("mine" -> "1")),
        m => m.properties.exists(_.get("mine").contains("1"))),
      ("constraints", (fs, root) =>
        LanceFormat.commitConstraints(fs, root, _ + ("pos" -> "id >= 0")),
        m => m.checkConstraints.get("pos").contains("id >= 0")))
    for ((kind, commit, effect) <- kinds) {
      val (fs, root) = memRoot()
      LanceFormat.commitAppend(fs, root, wide, Seq(FragmentMeta(0, "base.parquet", 10)),
        publisher = condPut)
      val thrown = parkedRace(commit(fs, root)) {
        LanceFormat.commitProperties(fs, root, Map("concurrent" -> "yes"))
      }
      assert(thrown.isEmpty, s"$kind threw $thrown")
      assert(LanceFormat.listVersions(fs, root) == (1L to 3L),
        s"$kind must land at the version after the concurrent commit")
      val head = LanceFormat.readLatest(fs, root).get
      assert(head.operation.contains("alter") && effect(head), s"$kind: $head")
      assert(head.properties.exists(_.get("concurrent").contains("yes")),
        s"$kind dropped the concurrent property: ${head.properties}")
    }
  }

  /** Runs the forced race with `loser` publishing second, asserts both
    * appends land with dense versions and the winner's manifest untouched.
    */
  private def raceBothLand(fs: FileSystem, root: Path, inner: ManifestPublisher,
      loser: String, winner: String): Unit = {
    LanceFormat.commitAppend(fs, root, schema,
      Seq(FragmentMeta(0, "base.parquet", 10)), publisher = Some(inner))

    val gate = new CountDownLatch(1)
    val pub = Some(new GatedPublisher(inner, gate, loser): ManifestPublisher)
    var failure: Option[Throwable] = None
    def committer(name: String): Thread = {
      val t = new Thread(() => {
        try {
          LanceFormat.commitAppend(fs, root, schema,
            Seq(FragmentMeta(0, s"$name.parquet", 1)), publisher = pub)
          if (name == winner) gate.countDown()
        } catch { case e: Throwable => failure = Some(e); gate.countDown() }
      }, name)
      t.start(); t
    }
    // start the loser first so it reads the pre-race manifest, then parks
    val lt = committer(loser)
    Thread.sleep(50)
    val wt = committer(winner)
    lt.join(30000); wt.join(30000)
    failure.foreach(throw _)

    assert(LanceFormat.listVersions(fs, root) == Seq(1L, 2L, 3L),
      "versions must stay dense: winner at 2, loser retries onto 3")
    val v2 = LanceFormat.readManifest(fs, root, 2L).fragments.map(_.file)
    assert(v2.contains(s"$winner.parquet") && !v2.contains(s"$loser.parquet"),
      "the winner's manifest must not be replaced by the loser")
    val last = LanceFormat.readManifest(fs, root, 3L)
    assert(last.fragments.map(_.file).toSet ==
      Set("base.parquet", s"$winner.parquet", s"$loser.parquet"),
      "the loser must re-merge the winner's fragments, not drop them")
    assert(last.fragments.map(_.id).distinct.size == 3)
    assert(last.rowCount == 12L)
  }

  test("forced race, local hard-link publisher: both committers land, both orders") {
    for ((loser, winner) <- Seq(("a", "b"), ("b", "a"))) {
      val (fs, root) = localRoot()
      raceBothLand(fs, root, ManifestPublisher.HardLink, loser, winner)
    }
  }

  test("forced race, conditional-put publisher on an object store: both land, both orders") {
    for ((loser, winner) <- Seq(("a", "b"), ("b", "a"))) {
      val (fs, root) = memRoot()
      raceBothLand(fs, root, ManifestPublisher.ConditionalPut, loser, winner)
    }
  }

  test("unsynchronized stress: 4 committers x 5 appends on conditional put, none lost") {
    val (fs, root) = memRoot()
    ManifestPublisher.register("condmem", ManifestPublisher.ConditionalPut)
    try {
      val threads = (0 until 4).map { t =>
        new Thread(() => (0 until 5).foreach { i =>
          LanceFormat.commitAppend(fs, root, schema,
            Seq(FragmentMeta(0, s"t$t-$i.parquet", 1)))
        }, s"stress-$t")
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
      assert(LanceFormat.listVersions(fs, root) == (1L to 20L),
        "every append lands on its own dense version")
      val last = LanceFormat.readLatest(fs, root).get
      assert(last.fragments.map(_.file).toSet ==
        (for (t <- 0 until 4; i <- 0 until 5) yield s"t$t-$i.parquet").toSet)
      assert(last.fragments.map(_.id).sorted == (0 until 20))
    } finally ManifestPublisher.unregister("condmem")
  }

  test("racing overwrites land as distinct dense versions, none replaced") {
    val (fs, root) = memRoot()
    ManifestPublisher.register("condmem", ManifestPublisher.ConditionalPut)
    try {
      val threads = (0 until 2).map { t =>
        new Thread(() => (0 until 3).foreach { i =>
          LanceFormat.commitOverwrite(fs, root, schema,
            Seq(FragmentMeta(0, s"ow-$t-$i.parquet", 1)))
        }, s"ow-$t")
      }
      threads.foreach(_.start()); threads.foreach(_.join(60000))
      assert(LanceFormat.listVersions(fs, root) == (1L to 6L))
      // every version is a complete single-writer overwrite: exactly one
      // fragment, and all six writes are present across the history
      val frags = (1L to 6L).map(v =>
        LanceFormat.readManifest(fs, root, v).fragments match {
          case Seq(one) => one.file
          case other => fail(s"version $v has ${other.size} fragments")
        })
      assert(frags.toSet ==
        (for (t <- 0 until 2; i <- 0 until 3) yield s"ow-$t-$i.parquet").toSet)
    } finally ManifestPublisher.unregister("condmem")
  }

  test("conditional PUT loses at close and never replaces the winner") {
    val (fs, root) = memRoot()
    val target = new Path(root, "_versions/1.manifest.json")
    assert(ManifestPublisher.ConditionalPut.publish(fs, target, "winner".getBytes))
    assert(!ManifestPublisher.ConditionalPut.publish(fs, target, "loser".getBytes))
    val in = fs.open(target)
    val buf = new Array[Byte](16)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n) == "winner")
  }

  private def s3aRoot(): (FileSystem, Path) = {
    val conf = new Configuration()
    conf.set("fs.s3a.impl", classOf[S3AMockFileSystem].getName)
    // keep the mock out of the JVM-global FileSystem cache: other suites'
    // sessions must never resolve s3a:// to this store
    conf.setBoolean("fs.s3a.impl.disable.cache", true)
    val root = new Path(s"s3a://mock-bucket/tbl-${UUID.randomUUID()}")
    (root.getFileSystem(conf), root)
  }

  test("s3a contract: scheme resolution picks conditional PUT and survives the race") {
    val (fs, _) = s3aRoot()
    assert(fs.getScheme == "s3a")
    // the pin: resolution by SCHEME (no override, no explicit publisher)
    assert(ManifestPublisher.forFileSystem(fs) == ManifestPublisher.ConditionalPut)
    for ((loser, winner) <- Seq(("a", "b"), ("b", "a"))) {
      val (fs2, root2) = s3aRoot()
      raceBothLand(fs2, root2, ManifestPublisher.forFileSystem(fs2), loser, winner)
    }
  }

  test("s3a contract: unsynchronized committers with scheme-resolved publisher, none lost") {
    val (fs, root) = s3aRoot()
    // NO ManifestPublisher.register here (unlike the condmem stress test,
    // whose scheme is not in the table): the commit path must resolve
    // ConditionalPut from the s3a scheme on its own
    val threads = (0 until 4).map { t =>
      new Thread(() => (0 until 5).foreach { i =>
        LanceFormat.commitAppend(fs, root, schema,
          Seq(FragmentMeta(0, s"t$t-$i.parquet", 1)))
      }, s"s3a-stress-$t")
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(LanceFormat.listVersions(fs, root) == (1L to 20L),
      "every append lands on its own dense version")
    val last = LanceFormat.readLatest(fs, root).get
    assert(last.fragments.map(_.file).toSet ==
      (for (t <- 0 until 4; i <- 0 until 5) yield s"t$t-$i.parquet").toSet)
  }

  test("bucket tags routed under a stale spec are stripped at commit") {
    val (fs, root) = localRoot()
    LanceFormat.commitAppend(fs, root, schema,
      Seq(FragmentMeta(0, "base.parquet", 10)))
    LanceFormat.commitBucketBy(fs, root, 4, Seq("id"))
    // a writer factory read spec (4, id) and routed/tagged under it; a
    // concurrent re-declaration to (8, id) lands BEFORE the commit —
    // publishing the old-spec tags under the new head would mis-prune
    LanceFormat.commitBucketBy(fs, root, 8, Seq("id"))
    val m = LanceFormat.commitAppend(fs, root, schema,
      Seq(FragmentMeta(0, "routed.parquet", 5,
        bucket = Some(2), sorted = Some(true))),
      routedBucketSpec = Some(Some((Seq(4), Seq("id")))))
    val frag = m.fragments.find(_.file == "routed.parquet").get
    assert(frag.bucket.isEmpty && frag.sorted.isEmpty,
      "stale-spec tags must be stripped, not published under the new spec")
    // and the same write under the CURRENT spec keeps its tags
    val m2 = LanceFormat.commitAppend(fs, root, schema,
      Seq(FragmentMeta(0, "routed2.parquet", 5,
        bucket = Some(3), sorted = Some(true))),
      routedBucketSpec = Some(Some((Seq(8), Seq("id")))))
    val frag2 = m2.fragments.find(_.file == "routed2.parquet").get
    assert(frag2.bucket.contains(3) && frag2.sorted.contains(true))
  }

  test("stale-spec tags are stripped on the replace path too") {
    val (fs, root) = localRoot()
    val m0 = LanceFormat.commitAppend(fs, root, schema,
      Seq(FragmentMeta(0, "base.parquet", 10)))
    LanceFormat.commitBucketBy(fs, root, 4, Seq("id"))
    LanceFormat.commitBucketBy(fs, root, 8, Seq("id"))
    val baseId = m0.fragments.head.id
    val (m, _) = LanceFormat.commitReplace(fs, root, schema, Set(baseId),
      Seq(FragmentMeta(0, "rw.parquet", 10, bucket = Some(1), sorted = Some(true))),
      routedBucketSpec = Some(Some((Seq(4), Seq("id")))))
    val frag = m.fragments.find(_.file == "rw.parquet").get
    assert(frag.bucket.isEmpty && frag.sorted.isEmpty)
  }

  test("scoped overwrite refuses when a may-matching fragment landed after its snapshot") {
    import org.apache.spark.sql.sources
    val (fs, root) = localRoot()
    val m0 = LanceFormat.commitAppend(fs, root, schema,
      Seq(FragmentMeta(0, "old.parquet", 10)))
    val snapshotFiles = m0.fragments.map(_.file).toSet
    val guard = Some((snapshotFiles,
      Array[sources.Filter](sources.GreaterThan("id", 5L))))
    // a concurrent append lands predicate-matching (stat-less) data
    LanceFormat.commitAppend(fs, root, schema,
      Seq(FragmentMeta(0, "concurrent.parquet", 3)))
    intercept[java.util.ConcurrentModificationException] {
      LanceFormat.commitReplace(fs, root, schema,
        m0.fragments.map(_.id).toSet,
        Seq(FragmentMeta(0, "backfill.parquet", 10)),
        failIfNewMatching = guard)
    }
    // the predicate-matched-nothing flavor falls through to append and
    // must hit the same wall
    intercept[java.util.ConcurrentModificationException] {
      LanceFormat.commitAppendIn(fs, LanceFormat.versionsPath(root), schema,
        Seq(FragmentMeta(0, "backfill2.parquet", 10)),
        failIfNewMatching = guard)
    }
  }

  test("scoped overwrite commits clean when nothing landed since its snapshot") {
    import org.apache.spark.sql.sources
    val (fs, root) = localRoot()
    val m0 = LanceFormat.commitAppend(fs, root, schema,
      Seq(FragmentMeta(0, "old.parquet", 10)))
    val guard = Some((m0.fragments.map(_.file).toSet,
      Array[sources.Filter](sources.GreaterThan("id", 5L))))
    val (m, removed) = LanceFormat.commitReplace(fs, root, schema,
      m0.fragments.map(_.id).toSet,
      Seq(FragmentMeta(0, "backfill.parquet", 10)),
      failIfNewMatching = guard)
    assert(removed == 10L && m.fragments.map(_.file) == Seq("backfill.parquet"))
  }

  test("publisher resolution: scheme map + registry override") {
    assert(ManifestPublisher.forScheme("file") == ManifestPublisher.HardLink)
    assert(ManifestPublisher.forScheme("hdfs") == ManifestPublisher.RenameIfAbsent)
    for (s <- Seq("s3a", "s3", "gs", "abfs", "abfss", "oss"))
      assert(ManifestPublisher.forScheme(s) == ManifestPublisher.ConditionalPut,
        s"object-store scheme $s must publish via conditional PUT")
    ManifestPublisher.register("file", ManifestPublisher.ConditionalPut)
    try assert(ManifestPublisher.forScheme("file") == ManifestPublisher.ConditionalPut)
    finally ManifestPublisher.unregister("file")
    assert(ManifestPublisher.forScheme("file") == ManifestPublisher.HardLink)
  }
}
