package graft

import graft.format.{BucketSpecMeta, ChangeFileMeta, FragmentMeta, LanceFormat, Manifest}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Property tests for the table-format layer (SURVEY §7.1 step 1/2):
  * schema + manifest round-trips must be lossless for every type the
  * engine stores, including nested types and column metadata (the
  * vector-dimension fidelity the reference loses).
  */
class FormatPropertySpec extends AnyFunSuite {

  /** Deterministic sampling (no scalatestplus bridge in the offline cache):
    * draws `n` seeded values from a generator.
    */
  private def samples[A](gen: Gen[A], n: Int = 60): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val leafType: Gen[DataType] = Gen.oneOf(
    BooleanType, ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType, StringType, BinaryType, DateType, TimestampType,
    DecimalType(18, 2), DecimalType(38, 10))

  private def fieldName: Gen[String] = for {
    head <- Gen.alphaChar
    tail <- Gen.listOfN(5, Gen.alphaNumChar)
  } yield (head :: tail).mkString

  private val dataType: Gen[DataType] = Gen.frequency(
    6 -> leafType,
    2 -> leafType.map(ArrayType(_, containsNull = true)),
    1 -> leafType.map(MapType(StringType, _, valueContainsNull = true)),
    1 -> (for {
      n <- Gen.choose(1, 3)
      names <- Gen.listOfN(n, fieldName)
      types <- Gen.listOfN(n, leafType)
    } yield StructType(names.distinct.zip(types).map { case (nm, t) =>
      StructField(nm, t)
    })))

  private val schemaGen: Gen[StructType] = for {
    n <- Gen.choose(1, 6)
    names <- Gen.listOfN(n, fieldName)
    types <- Gen.listOfN(n, dataType)
    dims <- Gen.listOfN(n, Gen.option(Gen.choose(1, 4096)))
  } yield StructType(names.distinct.zip(types.zip(dims)).map {
    case (nm, (t, dim)) =>
      val meta = dim.fold(Metadata.empty)(d =>
        new MetadataBuilder().putLong(Lance.VectorDimKey, d.toLong).build())
      StructField(nm, t, nullable = true, meta)
  })

  test("schema JSON round-trips through the manifest, metadata included") {
    samples(schemaGen).foreach { schema =>
      val m = Manifest(1L, schema.json, Seq(FragmentMeta(0, "f.parquet", 10)))
      assert(m.schema == schema)
      schema.fields.foreach { f =>
        assert(m.schema(f.name).metadata == f.metadata)
      }
    }
  }

  // --------------------------------------------- stats-evaluator soundness

  import org.apache.spark.sql.sources._
  import org.apache.spark.unsafe.types.UTF8String

  private type NSD = (Option[Long], Option[String], Option[Double])

  private val nsdSchema = new StructType()
    .add("n", LongType).add("s", StringType).add("d", DoubleType)

  private val longGen = Gen.frequency(8 -> Gen.choose(-100L, 100L),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue), 1 -> Gen.const(0L))
  private val strGen = Gen.frequency(
    6 -> Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString),
    2 -> Gen.listOfN(80, Gen.alphaLowerChar).map(_.mkString), // past the cap
    1 -> Gen.const(""))
  private val dblGen = Gen.frequency(8 -> Gen.choose(-50.0, 50.0),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
  private def opt[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(5 -> g.map(Some(_)), 1 -> Gen.const(None))
  private val rowsGen: Gen[List[NSD]] =
    Gen.nonEmptyListOf(Gen.zip(opt(longGen), opt(strGen), opt(dblGen)))

  private val filterGen: Gen[Filter] = {
    val nCmp = Gen.zip(Gen.oneOf("eq", "gt", "ge", "lt", "le"), longGen).map {
      case ("eq", v) => EqualTo("n", v)
      case ("gt", v) => GreaterThan("n", v)
      case ("ge", v) => GreaterThanOrEqual("n", v)
      case ("lt", v) => LessThan("n", v)
      case (_, v) => LessThanOrEqual("n", v)
    }
    val dCmp = Gen.zip(Gen.oneOf("eq", "gt", "lt"), dblGen).map {
      case ("eq", v) => EqualTo("d", v)
      case ("gt", v) => GreaterThan("d", v)
      case (_, v) => LessThan("d", v)
    }
    val sCmp = Gen.zip(Gen.oneOf("eq", "gt", "lt", "sw", "ct", "ew"), strGen).map {
      case ("eq", v) => EqualTo("s", v)
      case ("gt", v) => GreaterThan("s", v)
      case ("lt", v) => LessThan("s", v)
      case ("ct", v) => StringContains("s", v.take(2))
      case ("ew", v) => StringEndsWith("s", v.takeRight(2))
      case (_, v) => StringStartsWith("s", v.take(2))
    }
    val leaf: Gen[Filter] = Gen.frequency(
      4 -> nCmp, 2 -> dCmp, 3 -> sCmp,
      1 -> Gen.listOfN(3, longGen).map(vs => In("n", vs.toArray.map(_.asInstanceOf[Any]))),
      1 -> Gen.oneOf(IsNull("n"), IsNotNull("n"), IsNull("s"), IsNotNull("s")),
      1 -> longGen.map(v => Not(EqualTo("n", v))))
    Gen.frequency(3 -> leaf,
      1 -> Gen.zip(leaf, leaf).map { case (a, b) => And(a, b) },
      1 -> Gen.zip(leaf, leaf).map { case (a, b) => Or(a, b) })
  }

  // direct three-valued semantics on one row (null comparison -> false)
  private def evalRow(row: NSD, f: Filter): Boolean = {
    def cmp(a: Any, v: Any): Option[Int] = (a, v) match {
      case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
      case (x: String, y: String) =>
        Some(UTF8String.fromString(x).compareTo(UTF8String.fromString(y)))
      case (x: Double, y: Double) =>
        if (x.isNaN || y.isNaN) None else Some(java.lang.Double.compare(x, y))
      case _ => None
    }
    def value(attr: String): Option[Any] = attr match {
      case "n" => row._1
      case "s" => row._2
      case "d" => row._3
    }
    f match {
      case EqualTo(a, v) => value(a).flatMap(cmp(_, v)).contains(0)
      case GreaterThan(a, v) => value(a).flatMap(cmp(_, v)).exists(_ > 0)
      case GreaterThanOrEqual(a, v) => value(a).flatMap(cmp(_, v)).exists(_ >= 0)
      case LessThan(a, v) => value(a).flatMap(cmp(_, v)).exists(_ < 0)
      case LessThanOrEqual(a, v) => value(a).flatMap(cmp(_, v)).exists(_ <= 0)
      case In(a, vs) => vs.exists(v => value(a).flatMap(cmp(_, v)).contains(0))
      case IsNull(a) => value(a).isEmpty
      case IsNotNull(a) => value(a).isDefined
      case StringStartsWith(a, p) => value(a).exists(_.asInstanceOf[String].startsWith(p))
      case StringContains(a, c) => value(a).exists(_.asInstanceOf[String].contains(c))
      case StringEndsWith(a, x) => value(a).exists(_.asInstanceOf[String].endsWith(x))
      case Not(c) => value(c.references.head).isDefined && !evalRow(row, c)
      case And(l, r) => evalRow(row, l) && evalRow(row, r)
      case Or(l, r) => evalRow(row, l) || evalRow(row, r)
      case other => fail(s"unhandled filter in test eval: $other")
    }
  }

  /** Collect real writer-side stats for a random row batch. */
  private def collectStats(rows: List[NSD]): Map[String, graft.format.ColStats] = {
    import graft.format.FragmentStats
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val collector = new FragmentStats.Collector(nsdSchema)
    rows.foreach { case (n, s, d) =>
      collector.observe(new GenericInternalRow(Array[Any](
        n.map(Long.box).orNull,
        s.map(UTF8String.fromString).orNull,
        d.map(Double.box).orNull)))
    }
    collector.result().get
  }

  /** Soundness of manifest-stats pruning, the property that must NEVER
    * break: whenever the evaluator rules a fragment out, no row in it can
    * satisfy the filter. Random long/string/double rows (with nulls, NaN,
    * long strings past the truncation cap) stream through the REAL
    * writer-side Collector; random filter trees (comparisons, In,
    * null tests, prefixes, And/Or/Not) are checked against a direct
    * row-by-row evaluation. The reverse direction (pruning when it could)
    * is optimization, not correctness — deliberately unasserted.
    */
  test("stats pruning is sound: mayMatch=false implies zero matching rows") {
    import graft.format.FragmentStats
    samples(Gen.zip(rowsGen, Gen.listOfN(30, filterGen)), n = 120).foreach {
      case (rows, filters) =>
        val stats = collectStats(rows)
        filters.foreach { f =>
          val may = FragmentStats.mayMatch(nsdSchema, rows.size.toLong, stats, f)
          if (!may) {
            val matches = rows.filter(evalRow(_, f))
            assert(matches.isEmpty,
              s"UNSOUND PRUNE: filter $f, stats $stats, matching rows $matches")
          }
        }
    }
  }

  /** The dual, backing metadata-only DELETE: whenever [[FragmentStats
    * .mustMatch]] claims full coverage, EVERY row must satisfy the filter
    * — a false claim silently drops live rows from the manifest, the worst
    * failure mode a format can have. Same adversarial inputs as the
    * mayMatch property (truncated string bounds, NaN, nulls, extremes).
    */
  test("full-coverage claim is sound: mustMatch=true implies every row matches") {
    import graft.format.FragmentStats
    samples(Gen.zip(rowsGen, Gen.listOfN(30, filterGen)), n = 120).foreach {
      case (rows, filters) =>
        val stats = collectStats(rows)
        filters.foreach { f =>
          if (FragmentStats.mustMatch(nsdSchema, rows.size.toLong, stats, f)) {
            val misses = rows.filterNot(evalRow(_, f))
            assert(misses.isEmpty,
              s"UNSOUND COVERAGE: filter $f, stats $stats, non-matching rows $misses")
          }
        }
    }
  }

  test("property: ADC table sums to the metric distance of the decoded vector") {
    import graft.index.IvfIndex
    // The invariant all three PQ search paths rest on: for ANY codes,
    // Σ_j table(j·2^bits + code_j) is EXACTLY the scoring distance
    // between the query and the decoded (codebook-reconstructed) vector —
    // squared L2 and the inner product both decompose across subspaces
    // with no approximation (the PQ error is only in encoding, never in
    // scoring). Cosine scores on the normalized query against codebooks
    // that live in normalized space.
    val m = 4; val dsub = 3; val bits = 2; val kCodes = 1 << bits
    val dim = m * dsub
    val gen = for {
      cbs <- Gen.listOfN(m, Gen.listOfN(kCodes,
        Gen.listOfN(dsub, Gen.choose(-5.0, 5.0))))
      codes <- Gen.listOfN(m, Gen.choose(0, kCodes - 1))
      q <- Gen.listOfN(dim, Gen.choose(-5.0, 5.0))
      metric <- Gen.oneOf("l2", "dot", "cosine")
    } yield (cbs, codes, q, metric)
    samples(gen, n = 200).foreach { case (cbs, codes, qList, metric) =>
      val pm = IvfIndex.PqMeta(m, bits, cbs.map(_.map(_.toSeq)),
        normalized = Some(metric == "cosine"))
      val meta = IvfIndex.IndexMeta("v", "id", metric, 1, dim,
        Seq(Seq.fill(dim)(0.0)), pq = Some(pm))
      val q = qList.toArray
      val table = IvfIndex.adcTable(meta, pm, q)
      val adc = codes.zipWithIndex.map { case (c, j) => table(j * kCodes + c) }.sum
      val decoded = codes.zipWithIndex.flatMap { case (c, j) => cbs(j)(c) }.toArray
      val qEff = if (metric == "cosine") {
        val n = math.sqrt(q.map(x => x * x).sum)
        if (n == 0.0) q else q.map(_ / n)
      } else q
      val expected = metric match {
        case "dot" => -qEff.zip(decoded).map { case (a, b) => a * b }.sum
        case _ => qEff.zip(decoded).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      assert(math.abs(adc - expected) < 1e-9,
        s"metric=$metric adc=$adc expected=$expected")
    }
  }

  test("manifest survives a filesystem write/read cycle") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "fmt-prop-")
      .toAbsolutePath.toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val countsGen = Gen.listOf(Gen.choose(1L, 1000000L))
    samples(Gen.zip(schemaGen, countsGen), n = 25).foreach { case (schema, counts) =>
      val root = new Path(s"$dir/${java.util.UUID.randomUUID()}")
      val fs = LanceFormat.fileSystem(root, conf)
      val frags = counts.zipWithIndex.map { case (c, i) =>
        FragmentMeta(i, s"frag-$i.parquet", c)
      }
      val committed = LanceFormat.commitAppend(fs, root, schema, frags)
      val back = LanceFormat.readLatest(fs, root).get
      assert(back.schema == schema)
      assert(back.fragments.map(f => (f.file, f.rowCount)) ==
        frags.map(f => (f.file, f.rowCount)))
      assert(back.rowCount == counts.sum)
      assert(back.version == committed.version)
      assert(back.operation.contains("append"))
    }
  }

  test("manifests written before the operation field parse with operation=None") {
    val dir = Files.createTempDirectory(java.nio.file.Paths.get("target"), "fmt-legacy-")
      .toAbsolutePath.toString
    val root = new Path(dir)
    val fs = LanceFormat.fileSystem(root, new org.apache.hadoop.conf.Configuration())
    fs.mkdirs(new Path(root, LanceFormat.VersionsDir))
    // verbatim pre-field manifest JSON (no `operation`, as every round-4
    // dataset on disk has): the reader must default, not fail — and the
    // changefeed treats None conservatively (never skip)
    val legacy =
      """{"version":1,"schemaJson":"{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}",
        |"fragments":[{"id":0,"file":"frag-0.parquet","rowCount":3}],
        |"committedAtMs":1700000000000}""".stripMargin
    val out = fs.create(new Path(root, s"${LanceFormat.VersionsDir}/1.manifest.json"))
    out.write(legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8)); out.close()
    val m = LanceFormat.readLatest(fs, root).get
    assert(m.operation.isEmpty && m.rowCount == 3 && m.epochId.isEmpty)
    // the round-6 droppedColumns field defaults too (resurrection guard
    // simply inactive on legacy manifests)
    assert(m.droppedColumns.isEmpty && m.dropped.isEmpty)
  }

  // ------------------------------------------- commit carry-forward table

  /** Table cell: the head's value survives the commit. */
  private case object Carried
  /** Table cell: the commit leaves the field unset. */
  private case object Reset

  test("every commit kind carries, resets or overrides each manifest field per the table") {
    val spark = TestSpark.spark
    val base = Files.createTempDirectory(java.nio.file.Paths.get("target"), "carry-")
      .toAbsolutePath.toString
    val fs = LanceFormat.fileSystem(new Path(base), new org.apache.hadoop.conf.Configuration())
    implicit val fmts: org.json4s.Formats =
      org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)
    def put(p: Path, text: String): Unit = {
      val out = fs.create(p, true)
      try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val schema = new StructType().add("id", LongType).add("v", StringType)
      .add("n", IntegerType)
    val frags = Seq(FragmentMeta(0, "f0.parquet", 5), FragmentMeta(1, "f1.parquet", 5))
    // one real parquet file (column `id`) for cherry-pick's footer read
    val parquetOut = s"$base/parquet"
    spark.range(3).coalesce(1).write.parquet(parquetOut)
    val parquetFile = fs.listStatus(new Path(parquetOut)).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get

    /** A fresh table whose v1 head sets EVERY optional manifest field,
      * written as JSON so the head needs no particular commit path. Its
      * fragment list lives in a group file, so `fragmentGroups` is set. */
    def forgedHead(name: String): (Path, Manifest) = {
      val root = new Path(s"$base/$name")
      frags.foreach(f => fs.create(new Path(root, s"data/${f.file}")).close())
      val group = s"g-${java.util.UUID.randomUUID()}.json"
      put(new Path(root, s"_groups/$group"), org.json4s.jackson.Serialization.write(frags))
      val head = Manifest(1L, schema.json, Seq.empty,
        epochId = Some(11L),
        committedAtMs = 1L,
        operation = Some("append"),
        droppedColumns = Some(Seq("gone")),
        constraints = Some(Map("pos" -> "id >= 0")),
        streamEpochs = Some(Map("q" -> 3L)),
        columnMapping = Some(Map("v" -> "v_phys")),
        clusterBy = Some(Seq("id")),
        bucketBy = Some(BucketSpecMeta(4, Seq("id"), scheme = Some("grid"))),
        bloomFilters = Some(Seq("v")),
        changeFiles = Some(Seq(ChangeFileMeta("cf.parquet", 1L, "insert"))),
        properties = Some(Map("k" -> "1")),
        fragmentGroups = Some(Seq(group)))
      put(new Path(root, s"${LanceFormat.VersionsDir}/1.manifest.json"),
        org.json4s.jackson.Serialization.write(head))
      (root, LanceFormat.readManifest(fs, root, 1L))
    }
    def latest(root: Path): Manifest = LanceFormat.readLatest(fs, root).get
    def branchAppend(root: Path, h: Manifest, file: String): Unit = {
      LanceFormat.createBranch(fs, root, "b")
      LanceFormat.commitAppendIn(fs, LanceFormat.branchPath(root, "b"), h.schema,
        Seq(FragmentMeta(0, file, 3)), epochId = Some(41L),
        streamEpoch = Some(("b", 1L)))
    }

    val fields = Seq[(String, Manifest => Any)](
      "operation" -> (_.operation), "epochId" -> (_.epochId),
      "droppedColumns" -> (_.droppedColumns), "constraints" -> (_.constraints),
      "streamEpochs" -> (_.streamEpochs), "columnMapping" -> (_.columnMapping),
      "clusterBy" -> (_.clusterBy), "bucketBy" -> (_.bucketBy),
      "bloomFilters" -> (_.bloomFilters), "changeFiles" -> (_.changeFiles),
      "properties" -> (_.properties), "fragmentGroups" -> (_.fragmentGroups))
    val C = Carried
    val R = Reset
    val cf2 = ChangeFileMeta("cf2.parquet", 1L, "delete")
    // One row per commit kind: how to commit over the forged head, and per
    // field (in `fields` order) Carried, Reset or the overriding value.
    // Kinds returning a Manifest are checked on it; the rest on the
    // manifest read back, where `fragmentGroups` is the packer's: unset
    // below the inline threshold.
    val table: Seq[(String, (Path, Manifest) => Manifest, Seq[Any])] = Seq(
      ("append", (root, h) => LanceFormat.commitAppend(fs, root, h.schema,
        Seq(FragmentMeta(0, "a.parquet", 1)), epochId = Some(21L)),
        Seq(Some("append"), Some(21L), C, C, C, C, C, C, C, R, C, C)),
      ("overwrite", (root, h) => LanceFormat.commitOverwrite(fs, root, h.schema,
        Seq(FragmentMeta(0, "o.parquet", 1)), epochId = Some(22L)),
        Seq(Some("overwrite"), Some(22L), R, C, C, C, C, C, C, R, C, R)),
      ("replace", (root, h) => LanceFormat.commitReplace(fs, root, h.schema, Set(0),
        Seq(FragmentMeta(0, "r.parquet", 4)), changeFiles = Seq(cf2))._1,
        Seq(Some("replace"), C, C, C, C, C, C, C, C, Some(Seq(cf2)), C, C)),
      ("alter", (root, h) => LanceFormat.commitAlter(fs, root,
        h.schema.add("extra", StringType), Seq("gone", "gone2")),
        Seq(Some("alter"), C, Some(Seq("gone", "gone2")), C, C, C, C, C, C, R, C, C)),
      ("rename", (root, _) => LanceFormat.commitRename(fs, root, "v", "w"),
        Seq(Some("alter"), C, C, C, C, Some(Map("w" -> "v_phys")), C, C,
          Some(Seq("w")), R, C, C)),
      ("widen", (root, _) => LanceFormat.commitWiden(fs, root, "n", LongType),
        Seq(Some("alter"), C, C, C, C, C, C, C, C, R, C, C)),
      ("clusterBy", (root, _) => LanceFormat.commitClusterBy(fs, root, Seq.empty),
        Seq(Some("alter"), C, C, C, C, C, R, C, C, R, C, C)),
      ("bucketBy", (root, _) => LanceFormat.commitBucketBy(fs, root, 0, Seq.empty),
        Seq(Some("alter"), C, C, C, C, C, C, R, C, R, C, C)),
      ("bloomFilters", (root, _) => LanceFormat.commitBloomFilters(fs, root, Seq("id")),
        Seq(Some("alter"), C, C, C, C, C, C, C, Some(Seq("id")), R, C, C)),
      ("properties", (root, _) => LanceFormat.commitProperties(fs, root, Map("k2" -> "2")),
        Seq(Some("alter"), C, C, C, C, C, C, C, C, R,
          Some(Map("k" -> "1", "k2" -> "2")), C)),
      ("constraints", (root, _) =>
        LanceFormat.commitConstraints(fs, root, _ + ("small" -> "n < 100")),
        Seq(Some("alter"), C, C, Some(Map("pos" -> "id >= 0", "small" -> "n < 100")),
          C, C, C, C, C, R, C, C)),
      // the target is the head; an append moves past it first, and its
      // epoch and replay guard are what restore must keep
      ("restore", (root, h) => {
        LanceFormat.commitAppend(fs, root, h.schema, Seq(FragmentMeta(0, "a.parquet", 1)),
          epochId = Some(31L), streamEpoch = Some(("q", 9L)))
        Lance.restore(spark, root.toString, 1L)
        latest(root)
      }, Seq(Some("restore"), Some(31L), C, C, Some(Map("q" -> 9L)), C, C, C, C, R, C, R)),
      // the branch head's epoch, but main's replay guards
      ("fastForward", (root, h) => {
        branchAppend(root, h, "b.parquet")
        LanceFormat.fastForward(fs, root, "b")
        latest(root)
      }, Seq(Some("fast-forward"), Some(41L), C, C, C, C, C, C, C, R, C, R)),
      ("rebase", (root, h) => {
        branchAppend(root, h, "b.parquet")
        LanceFormat.rebaseBranch(fs, root, "b")
        latest(root)
      }, Seq(Some("rebase"), C, C, C, C, C, C, C, C, R, C, R)),
      ("cherryPick", (root, h) => {
        fs.copyFromLocalFile(false, true, parquetFile, new Path(root, "data/picked.parquet"))
        branchAppend(root, h, "picked.parquet")
        LanceFormat.cherryPick(fs, root, "b", 2L)
        latest(root)
      }, Seq(Some("cherry-pick"), C, C, C, C, C, C, C, C, R, C, R)),
      ("clone", (root, _) => {
        val dst = new Path(s"$root-clone")
        Lance.cloneTable(spark, root.toString, dst.toString)
        latest(dst)
      }, Seq(Some("clone"), R, C, C, R, C, C, C, C, R, C, R)))
    try {
      for ((kind, commit, row) <- table) {
        assert(row.size == fields.size, s"$kind row has ${row.size} cells")
        val (root, head) = forgedHead(kind)
        fields.foreach { case (_, get) => assert(get(head) != None) }
        val m = commit(root, head)
        fields.zip(row).foreach { case ((field, get), cell) =>
          val want = cell match {
            case Carried => get(head)
            case Reset => None
            case v => v
          }
          assert(get(m) == want, s"$kind: $field")
        }
      }
    } finally fs.delete(new Path(base), true)
  }
}
