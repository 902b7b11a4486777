package graft.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, Metadata, MetadataBuilder, StructType}
import org.json4s.NoTypeHints
import org.json4s.jackson.Serialization

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

/** One immutable data fragment of a dataset version. `stats` carries
  * per-column min/max/nullCount for manifest-level data skipping
  * ([[FragmentStats]]); absent on manifests written before stats existed
  * or with `write.stats=false` — such fragments are simply never pruned.
  */
case class FragmentMeta(id: Int, file: String, rowCount: Long,
    stats: Option[Map[String, ColStats]] = None,
    // hash-bucket id under the manifest's [[BucketSpecMeta]]: set by the
    // writer when the table declares bucketing, meaning EVERY row in this
    // fragment hashes to this bucket (bucket-pure). Fragments written
    // before the declaration (or through a non-routing path) have None
    // and conservatively disable storage-partitioned planning.
    bucket: Option[Int] = None,
    // OBSERVED at write time under bucket routing: rows arrived
    // non-decreasing by the spec's key columns (nulls first), so the
    // file is key-sorted and — when it is its bucket's ONLY file — the
    // scan can report a per-partition ordering and sort-merge joins
    // skip their sorts. Observed, never assumed: an unsorted write
    // records false and merely disables the claim. Cleared with
    // `bucket` whenever the spec changes.
    sorted: Option[Boolean] = None,
    // file size, recorded at write time: when every kept fragment has
    // it, scan planning builds its file index straight from the manifest
    // — ZERO filesystem metadata calls per query (at a million fragments
    // the per-file getFileStatus storm IS the planning latency).
    // Fragments from older manifests lack it and fall back to listing.
    bytes: Option[Long] = None)

/** Declared hash-bucket clustering ([[graft.Lance.clusterByBucket]]):
  * rows are routed to a bucket tag at write time and fragments are
  * bucket-pure, so a scan can report Spark's `KeyGroupedPartitioning`
  * and two tables bucketed the same way join WITHOUT a shuffle
  * (storage-partitioned join — Iceberg's bucket transform shape).
  * `columns` are LOGICAL names; remapped on RENAME, cleared when a
  * bucket column is dropped, and a bucket column refuses ALTER TYPE
  * widening (the hash is type-dependent — a widened writer would route
  * the same key to a different bucket).
  *
  * `scheme` versions the TAG semantics for composite keys. Unary specs
  * are `pmod(murmur3(col), n)` under every scheme. Composite specs:
  * `Some("grid")` (written since round 11) = the row-major per-column
  * digit composition ([[BucketHash.gridTagOfInternal]]) at uniform
  * width; `Some("grid-w")` (round 13) = the same composition with the
  * PER-COLUMN `widths` radices — stamped distinctly so a pre-widths
  * reader refuses the tags instead of decoding them with the uniform
  * max radix; `None` = a legacy chained-tuple-hash layout — its tags
  * MUST NOT be decoded as grid digits (wrong pruning, mis-aligned
  * joins), so readers treat such fragments as untagged (never prune,
  * no SPJ) until a `CALL rebucket`/`cluster_by_bucket` rewrite re-tags
  * them.
  */
case class BucketSpecMeta(numBuckets: Int, columns: Seq[String],
    scheme: Option[String] = None, widths: Option[Seq[Int]] = None) {
  /** Composite tags are trustworthy only under a known grid scheme:
    * "grid" (uniform width) or "grid-w" (per-column widths — stamped
    * distinctly so pre-widths readers treat the tags as unreadable
    * instead of decoding them with the wrong uniform radix). */
  def compositeTagsReadable: Boolean =
    columns.size == 1 || scheme.exists(s => s == "grid" || s == "grid-w")
  /** Per-column bucket widths — Iceberg's `bucket(8,a), bucket(32,b)`
    * shape. Equal-width specs (every spec before widths existed) omit
    * the field, so their manifests stay byte-identical and old readers
    * of this JSON never see it; `numBuckets` remains the uniform width
    * then. A mixed-width spec's `numBuckets` carries max(widths) purely
    * as a legacy-reader hint — every consumer reads THIS vector. */
  def widthsVec: Seq[Int] = widths.getOrElse(Seq.fill(columns.size)(numBuckets))
}

/** One row-level change-data-feed file of a DML commit (Delta CDF's
  * `_change_data` shape): a parquet file in `data/` carrying exact
  * pre/post images under the table's PHYSICAL schema. `kind` is one of
  * delete | insert | update_preimage | update_postimage. */
case class ChangeFileMeta(file: String, rows: Long, kind: String)

object ChangeFileMeta {
  val Kinds: Set[String] =
    Set("delete", "insert", "update_preimage", "update_postimage")
}

/** A committed dataset version: schema + fragment list (+ the streaming
  * epoch that produced it, for idempotent exactly-once commits).
  *
  * `operation` records the commit KIND: "append", "overwrite", "replace"
  * (row-level DML copy-on-write), or "rewrite" (row-PRESERVING compaction
  * / re-clustering). The changefeed reader uses it to skip rewrite
  * commits — their rows were already emitted from the old files — while
  * still failing loud on commits that changed rows. Absent on manifests
  * written before the field existed; readers treat that conservatively
  * (never skip).
  */
case class Manifest(
    version: Long,
    schemaJson: String,
    fragments: Seq[FragmentMeta],
    epochId: Option[Long] = None,
    committedAtMs: Long = 0L,
    operation: Option[String] = None,
    droppedColumns: Option[Seq[String]] = None,
    constraints: Option[Map[String, String]] = None,
    streamEpochs: Option[Map[String, Long]] = None,
    columnMapping: Option[Map[String, String]] = None,
    // declared clustering (LOGICAL column names, [[Lance.cluster]]):
    // maintenance rewrites re-establish this order instead of destroying
    // it — the Delta liquid-clustering posture. Carried through every
    // commit kind; remapped on RENAME; pruned on DROP.
    clusterBy: Option[Seq[String]] = None,
    // declared hash-bucket layout ([[BucketSpecMeta]]): carried through
    // every commit kind like clusterBy; mutually exclusive with it.
    bucketBy: Option[BucketSpecMeta] = None,
    // columns every fragment writes a parquet BLOOM FILTER for
    // ([[graft.Lance.setBloomFilters]], LOGICAL names): row-group-level
    // membership proofs the reader applies to pushed =/IN predicates —
    // the skipping layer for high-cardinality point lookups where
    // min/max is useless and a scalar-index sidecar isn't wanted.
    // Carried/remapped/self-healed like clusterBy; per-column
    // independent (losing one column drops only that entry).
    bloomFilters: Option[Seq[String]] = None,
    // row-level CHANGE-DATA-FEED files for THIS commit, written by
    // row-level DML alongside the rewritten fragments: exact pre/post
    // images so incremental consumers ([[connector.LanceMicroBatchStream]]
    // CDC mode, the `lance_changes` TVF) replay corrections at row
    // granularity instead of whole-fragment delete+insert amplification.
    // PER-COMMIT state: metadata commits must never carry it forward,
    // and readers consult it only on 'replace'-operation commits.
    changeFiles: Option[Seq[ChangeFileMeta]] = None,
    // generic TABLE PROPERTIES (Delta TBLPROPERTIES / Iceberg table
    // properties): free-form key→value pairs carried through every
    // commit kind like constraints. User keys via [[graft.Lance.
    // setProperties]] (reserved `lance.` / `graft.` prefixes refused
    // there); internal consumers (materialized-view bookkeeping under
    // `graft.mv.*`) write through [[LanceFormat.commitProperties]] or
    // atomically alongside a data commit via the
    // `write.set-properties` write option. Surfaced read-side in
    // SHOW TBLPROPERTIES alongside the lance.* declarations.
    properties: Option[Map[String, String]] = None,
    // TWO-LEVEL manifest (set by the commit path once the fragment list
    // outgrows [[LanceFormat.inlineFragmentThreshold]]): the on-disk
    // manifest carries only these content-addressed group-file names
    // (`_groups/g-<sha1>.json`, each one JSON array chunk of the
    // fragment list) and an EMPTY `fragments`; [[LanceFormat.
    // readManifestIn]] resolves them back, so in memory `fragments` is
    // always the full list. Content addressing is what makes commits
    // O(new data): an append re-derives identical chunk hashes for the
    // untouched prefix and reuses those files by name — at a million
    // fragments the manifest write is one small JSON + one tail group,
    // not a gigabyte rewrite. A metadata-only commit reuses every group.
    fragmentGroups: Option[Seq[String]] = None) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  /** RENAME COLUMN support, Delta's column-mapping-by-name shape: the
    * manifest schema carries LOGICAL names; fragment files always carry
    * the PHYSICAL name a column was born with (physical names never
    * change — a rename is one metadata commit, zero data rewritten, and
    * every fragment old or new reads through the current logical name).
    * This map holds only the columns whose two names differ
    * (logical → physical); everything else is identity. */
  def mapping: Map[String, String] = columnMapping.getOrElse(Map.empty)
  /** The on-disk (parquet) name of logical column `col`. */
  def physicalName(col: String): String = mapping.getOrElse(col, col)
  /** The manifest schema with PHYSICAL field names — what fragment
    * readers/writers use; positions, types, nullability, metadata all
    * identical to [[schema]], so rows are interchangeable. */
  def physicalSchema: StructType = LanceFormat.toPhysical(schema, mapping)
  /** Rename a logical-named schema (e.g. a pruned read schema or a write
    * schema) to physical names. */
  def toPhysicalSchema(s: StructType): StructType =
    LanceFormat.toPhysical(s, mapping)
  /** Last epoch each streaming QUERY committed (keyed by Spark's
    * `LogicalWriteInfo.queryId()`), the exactly-once replay guard. Keyed
    * per query — a per-table scalar silently DROPS data in two realistic
    * shapes: a restart from a fresh checkpoint (epochs restart at 0, every
    * batch reads as a replay until the counter passes the old high-water
    * mark) and two concurrent streaming queries on one table (the
    * lower-epoch query's commits are discarded). One map entry per
    * distinct query ever — bytes, not state. Carried forward through
    * every commit kind like `constraints`. */
  def streamEpochFor(queryId: String): Option[Long] =
    streamEpochs.flatMap(_.get(queryId))
  def rowCount: Long = fragments.map(_.rowCount).sum
  /** CHECK constraints (name → boolean SQL expr, Delta parity): enforced
    * on every data commit — a batch whose rows violate any constraint
    * fails BEFORE the manifest lands (NULL passes, SQL CHECK semantics).
    * Adding one validates all existing data first. */
  def checkConstraints: Map[String, String] = constraints.getOrElse(Map.empty)
  /** Names DROP COLUMN removed while fragments physically holding their
    * data are still referenced. Re-ADDing such a name is refused: the
    * by-name parquet projection would RESURRECT the old values in old
    * fragments (Delta avoids this with physical column ids; refusing
    * loudly is the honest contract without them). Cleared by overwrite —
    * a fresh physical state has nothing to resurrect. */
  def dropped: Seq[String] = droppedColumns.getOrElse(Seq.empty)
}

/** The on-disk table format: a directory of immutable columnar fragment
  * files plus `_versions/N.manifest.json` manifests (MVCC).
  *
  * Mirrors the reference's Lance dataset model — fragments as the unit of
  * parallelism and append/overwrite as atomic manifest commits (reference
  * `LanceSink.java:152-195`, `_versions` validity marker
  * `table/LanceCatalog.java:397,492-493`) — but stores fragments as
  * Parquet so the scan path is Spark's vectorized reader, no JNI.
  *
  * Commit protocol: every commit kind is one [[transact]] call. It
  * reads the lineage head (re-read on every attempt; a caller's hint
  * serves the first attempt only), hands it to the kind's body, and
  * publishes the returned manifest at `_versions/<head+1>.manifest.json`
  * via the store's atomic-if-absent primitive ([[ManifestPublisher]]:
  * local hard link, HDFS rename, object-store conditional PUT). A
  * committer that loses the publish re-runs its body against the new
  * head, at most 20 attempts (optimistic MVCC); a body refuses a head it
  * cannot commit over by throwing. No external lock is needed on any
  * store with one of those primitives — the reference's remote catalog
  * instead throws (`table/LanceCatalog.java:508-514`).
  */
object LanceFormat {
  private implicit val fmts: org.json4s.Formats = Serialization.formats(NoTypeHints)

  val VersionsDir = "_versions"
  val DataDir = "data"
  val GroupsDir = "_groups"
  /** Columns declared int64-NANOSECOND timestamps (`write.ns-as-long`):
    * comma-joined names. The values stay LongType end-to-end (lossless —
    * Spark has no ns timestamp); [[graft.Lance.readNsAsTimestamp]] is
    * the opt-in µs cast. Reference parity for Timestamp(9) columns
    * (ref:converter/RowDataConverter.java:228-231). */
  val PropNsAsLong = "graft.ns-as-long.columns"
  private val ManifestSuffix = ".manifest.json"

  def versionsPath(root: Path) = new Path(root, VersionsDir)
  def dataPath(root: Path) = new Path(root, DataDir)
  def groupsPath(root: Path) = new Path(root, GroupsDir)

  // ------------------------------------------- two-level manifest groups

  /** Fragment-list size above which manifests spill to content-addressed
    * group files; spec-tunable. 1000 inline entries ≈ a 1 MB manifest —
    * below that, one file read beats two. */
  private[graft] var inlineFragmentThreshold = 1000
  /** Chunk size of one group file (~10 MB of JSON with per-column
    * stats); the append tail rewrites at most one partial chunk. */
  private[graft] var fragmentsPerGroup = 10000

  /** Group files are immutable and content-addressed, so a small global
    * cache is sound across tables and versions (same name ⇒ same bytes);
    * it turns repeated manifest reads of a large table into one parse. */
  private val groupCache =
    new java.util.LinkedHashMap[String, Seq[FragmentMeta]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[FragmentMeta]]): Boolean = size > 256
    }

  /** The table root a lineage dir belongs to: `<root>/_versions` or
    * `<root>/_branches/<name>` — groups live once per table at
    * `<root>/_groups`, shared by every lineage (a branch fork reuses the
    * base version's groups byte for byte). */
  private def rootOfLineage(dir: Path): Path =
    if (dir.getName == VersionsDir) dir.getParent
    else dir.getParent.getParent // _branches/<name>

  private def sha1Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
      .map(b => f"$b%02x").mkString

  /** Write one content-addressed chunk file, returning its name. A chunk
    * whose hash already exists on disk is reused without a write. The
    * write itself is temp-then-rename: `create(p, overwrite)` behind the
    * non-atomic exists check would let a racing duplicate writer TRUNCATE
    * a group file another manifest already references — a reader in that
    * window sees partial bytes. Rename never exposes partial content; a
    * lost rename race just means the identical bytes already landed. */
  private def writeGroup(fs: FileSystem, root: Path,
      chunk: Seq[FragmentMeta]): String = {
    val dir = groupsPath(root)
    val bytes = Serialization.write(chunk).getBytes(StandardCharsets.UTF_8)
    val name = s"g-${sha1Hex(bytes)}.json"
    val p = new Path(dir, name)
    if (!fs.exists(p)) {
      fs.mkdirs(dir)
      val tmp = new Path(dir, s".$name.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, false)
      try out.write(bytes) finally out.close()
      if (!fs.rename(tmp, p)) {
        // another writer landed the identical bytes first; drop ours
        fs.delete(tmp, false)
        require(fs.exists(p), s"group write lost the rename race at $p " +
          "but the winner's file is missing")
      }
    }
    groupCache.synchronized { groupCache.put(name, chunk.toVector) }
    name
  }

  private def readGroup(fs: FileSystem, root: Path, name: String): Seq[FragmentMeta] = {
    groupCache.synchronized { Option(groupCache.get(name)) } match {
      case Some(c) => c
      case None =>
        val p = new Path(groupsPath(root), name)
        val in = fs.open(p)
        val parsed = try {
          val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
          in.readFully(0L, bytes)
          Serialization.read[Seq[FragmentMeta]](
            new String(bytes, StandardCharsets.UTF_8)).toVector
        } finally in.close()
        groupCache.synchronized { groupCache.put(name, parsed) }
        parsed
    }
  }

  /** The on-disk form of `m`: inline below the threshold, group refs +
    * empty fragment list above it.
    *
    * `m.fragmentGroups` arriving here is a REUSE HINT (the previous
    * version's chunk names, threaded by the commit functions): a chunk
    * whose cached contents VERIFY equal to the hinted group reuses that
    * name without re-serializing — the hash of 50k untouched entries is
    * already known, so the steady-state append pays CPU only for its
    * tail chunk. Verification is structural equality against the
    * immutable group cache; any miss (evicted, edited mid-list, shifted
    * boundaries) falls back to serialize+hash, which is always correct.
    */
  private def packForWrite(fs: FileSystem, dir: Path, m: Manifest): Manifest =
    if (m.fragments.size <= inlineFragmentThreshold)
      m.copy(fragmentGroups = None)
    else {
      val root = rootOfLineage(dir)
      val hints = m.fragmentGroups.getOrElse(Seq.empty)
      val names = m.fragments.grouped(fragmentsPerGroup).zipWithIndex.map {
        case (chunk, i) =>
          val hinted = if (i < hints.size)
            groupCache.synchronized { Option(groupCache.get(hints(i))) }
              .filter(_ == chunk)
          else None
          hinted.fold(writeGroup(fs, root, chunk))(_ => hints(i))
      }.toSeq
      m.copy(fragments = Seq.empty, fragmentGroups = Some(names))
    }

  def isDataset(fs: FileSystem, root: Path): Boolean =
    fs.exists(versionsPath(root))

  /** Lineage-dir primitives: `_versions` (main) and each `_branches/<b>`
    * directory hold the same `N.manifest.json` files — every version
    * operation works on either through these.
    */
  def listVersionsIn(fs: FileSystem, dir: Path): Seq[Long] = {
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(ManifestSuffix))
      .map(n => n.stripSuffix(ManifestSuffix).toLong)
      .sorted
  }

  def readManifestIn(fs: FileSystem, dir: Path, version: Long): Manifest = {
    val p = new Path(dir, s"$version$ManifestSuffix")
    val in = fs.open(p)
    val parsed = try {
      val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      val sb = new StringBuilder
      var line = reader.readLine()
      while (line != null) { sb.append(line).append('\n'); line = reader.readLine() }
      Serialization.read[Manifest](sb.toString)
    } finally in.close()
    // two-level form: resolve the content-addressed groups back into the
    // in-memory fragment list (group refs retained for GC/introspection)
    parsed.fragmentGroups.filter(_.nonEmpty) match {
      case Some(gs) =>
        val root = rootOfLineage(dir)
        // wide manifests fetch their chunks concurrently (encounter
        // order preserved); FileSystem reads are thread-safe
        val frags =
          if (gs.size <= 4) gs.flatMap(readGroup(fs, root, _))
          else {
            import scala.jdk.CollectionConverters._
            gs.asJava.parallelStream()
              .map[Seq[FragmentMeta]](n => readGroup(fs, root, n))
              .collect(java.util.stream.Collectors.toList[Seq[FragmentMeta]])
              .asScala.toSeq.flatten
          }
        parsed.copy(fragments = frags)
      case None => parsed
    }
  }

  def readLatestIn(fs: FileSystem, dir: Path): Option[Manifest] =
    listVersionsIn(fs, dir).lastOption.map(readManifestIn(fs, dir, _))

  /** The latest manifest WITHOUT resolving fragment groups — `fragments`
    * may be EMPTY on a two-level manifest. For callers that only need
    * declarations (schema, mapping, layout specs, constraints): a
    * million-fragment table answers from one small JSON instead of
    * hydrating every group chunk. Never pass the result anywhere that
    * reads `fragments`. */
  def readLatestMeta(fs: FileSystem, root: Path): Option[Manifest] =
    readLatestMetaIn(fs, versionsPath(root))

  /** [[readLatestMeta]] against an explicit lineage dir (branch writes
    * take their mapping/specs from the branch head). */
  def readLatestMetaIn(fs: FileSystem, dir: Path): Option[Manifest] = {
    listVersionsIn(fs, dir).lastOption.map { v =>
      val p = new Path(dir, s"$v$ManifestSuffix")
      val in = fs.open(p)
      try {
        val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
        val sb = new StringBuilder
        var line = reader.readLine()
        while (line != null) { sb.append(line).append('\n'); line = reader.readLine() }
        Serialization.read[Manifest](sb.toString)
      } finally in.close()
    }
  }

  def listVersions(fs: FileSystem, root: Path): Seq[Long] =
    listVersionsIn(fs, versionsPath(root))

  def latestVersion(fs: FileSystem, root: Path): Option[Long] =
    listVersions(fs, root).lastOption

  def readManifest(fs: FileSystem, root: Path, version: Long): Manifest =
    readManifestIn(fs, versionsPath(root), version)

  def readLatest(fs: FileSystem, root: Path): Option[Manifest] =
    latestVersion(fs, root).map(readManifest(fs, root, _))

  /** Try to commit `m` at exactly its version via the filesystem's
    * atomic-if-absent publisher. False means a concurrent committer won.
    * The `exists` precheck is a cheap fast-path (one HEAD vs a doomed
    * PUT); correctness rests solely on the publisher's atomicity.
    */
  private def commitOnceIn(fs: FileSystem, dir: Path, m: Manifest,
      publisher: Option[ManifestPublisher]): Boolean = {
    fs.mkdirs(dir)
    val target = new Path(dir, s"${m.version}$ManifestSuffix")
    if (fs.exists(target)) return false
    publisher.getOrElse(ManifestPublisher.forFileSystem(fs))
      .publish(fs, target, Serialization.write(packForWrite(fs, dir, m))
        .getBytes(StandardCharsets.UTF_8))
  }

  /** Column DEFAULT support (Iceberg v3 initial-default shape, carried in
    * Spark's own schema-metadata contract): an added column may declare a
    * constant SQL literal; fragments that PHYSICALLY lack the column
    * (pre-ADD, or writes that omitted it) read the default — Spark's
    * parquet readers fill missing columns from the `EXISTS_DEFAULT`
    * field metadata — while a fragment that stored an explicit NULL
    * still reads NULL. No backfill rewrite, one metadata commit. */
  val ExistsDefaultKey = "EXISTS_DEFAULT"
  val CurrentDefaultKey = "CURRENT_DEFAULT"

  /** Validate `defaultSql` as a constant literal castable to `dt` and
    * return the field metadata that makes every scan honor it. Refused
    * shapes fail HERE (one loud commit-time error) instead of breaking
    * every later read. */
  def defaultMetadata(name: String, dt: DataType, defaultSql: String): Metadata = {
    val parsed = try
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(defaultSql)
    catch { case e: Exception => throw new IllegalArgumentException(
      s"DEFAULT for '$name' does not parse: $defaultSql", e) }
    require(parsed.foldable,
      s"DEFAULT for '$name' must be a constant literal, got: $defaultSql")
    val v = try
      org.apache.spark.sql.catalyst.expressions.Cast(parsed, dt, Some("UTC")).eval()
    catch { case e: Exception => throw new IllegalArgumentException(
      s"DEFAULT for '$name' cannot cast to ${dt.simpleString}: $defaultSql", e) }
    require(v != null,
      s"DEFAULT for '$name' evaluates to NULL - a missing column already " +
        "reads NULL; drop the DEFAULT instead")
    new MetadataBuilder()
      .putString(ExistsDefaultKey, defaultSql)
      .putString(CurrentDefaultKey, defaultSql).build()
  }

  /** The declared DEFAULT of each column carrying one (logical name →
    * SQL literal text) — what SHOW TBLPROPERTIES lists. */
  def columnDefaults(schema: StructType): Map[String, String] =
    schema.fields.flatMap(f =>
      if (f.metadata.contains(ExistsDefaultKey))
        Some(f.name -> f.metadata.getString(ExistsDefaultKey))
      else None).toMap

  /** A write schema derived from a DataFrame loses field METADATA (plan
    * attributes don't carry it), so a data commit built from it would
    * silently erase the table's declared DEFAULTs — the nullability
    * lost-update's sibling. Carry the default keys forward from the
    * previous schema wherever the incoming one lacks them; every data
    * commit path (append/replace/overwrite) runs through here. */
  private def mergeColumnDefaults(schema: StructType,
      prev: Option[StructType]): StructType = prev match {
    case None => schema
    case Some(p) =>
      val byName = p.fields.map(f => f.name -> f).toMap
      StructType(schema.fields.map { f =>
        byName.get(f.name) match {
          case Some(pf) if pf.metadata.contains(ExistsDefaultKey) &&
              !f.metadata.contains(ExistsDefaultKey) =>
            f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putString(ExistsDefaultKey, pf.metadata.getString(ExistsDefaultKey))
              .putString(CurrentDefaultKey, pf.metadata.getString(ExistsDefaultKey))
              .build())
          case _ => f
        }
      })
  }

  /** Wire form of a DML commit's change-file list — carried through the
    * `write.change-files` write option from the DML verb (which staged
    * the files and knows the row images) to the connector commit. */
  /** `write.set-properties` option codec (JSON object; null values mean
    * UNSET — see [[mergeProperties]]). */
  def serializeProperties(props: Map[String, String]): String =
    Serialization.write(props)
  def parseProperties(s: String): Map[String, String] =
    Serialization.read[Map[String, String]](s)

  def serializeChangeFiles(cfs: Seq[ChangeFileMeta]): String =
    Serialization.write(cfs)
  def parseChangeFiles(s: String): Seq[ChangeFileMeta] =
    Serialization.read[Seq[ChangeFileMeta]](s)

  /** Physical-name form of a manifest's declared bucket spec. Task writers
    * route and tag rows under PHYSICAL key names (stable across RENAME
    * COLUMN), so any spec equality check that spans a time window — writer
    * factory to commit — must compare in physical space, or a concurrent
    * rename would read as a re-declaration. */
  def physicalBucketSpec(m: Manifest): Option[(Seq[Int], Seq[String])] =
    m.bucketBy.map(b => (b.widthsVec, b.columns.map(m.physicalName)))

  /** Bucket-tag spec race guard, shared by every commit loop that lands
    * writer-tagged fragments. The task writers routed rows and stamped
    * `bucket`/`sorted` under the spec read at factory-build time
    * (`routed`); if a concurrent `clusterByBucket` re-declaration landed
    * before this commit attempt, publishing those tags under the NEW spec
    * head would make BucketPrune silently skip fragments that DO hold
    * matching rows and mis-align storage-partitioned joins. Strip the
    * tags instead (conservative: untagged fragments always scan, never
    * wrongly prune) — the same posture rebase takes for adopted branch
    * fragments under a changed main spec. `routed` is None for callers
    * that did not route (metadata commits, compensation): no check. */
  private def reconcileBucketTags(frags: Seq[FragmentMeta],
      routed: Option[Option[(Seq[Int], Seq[String])]],
      prevAtCommit: Option[Manifest]): Seq[FragmentMeta] = routed match {
    case Some(spec) if spec != prevAtCommit.flatMap(physicalBucketSpec) =>
      frags.map(_.copy(bucket = None, sorted = None))
    case _ => frags
  }

  /** Scoped-overwrite serializability check (Delta's replaceWhere
    * posture). `check` carries the FILE SET of the snapshot the caller
    * proved its replaced-fragment set against, plus the PHYSICAL-name
    * filters. Runs inside the commit retry loop, against the manifest of
    * each attempt: a fragment outside that snapshot (and not part of
    * this very commit) that may hold predicate-matching rows means a
    * concurrent writer landed matching data the overwrite would silently
    * miss — fail loud, the caller re-runs against the new version.
    * Fragments without stats count as may-matching (strict). */
  private def failNewMatchingSinceSnapshot(prev: Option[Manifest],
      check: Option[(Set[String], Array[org.apache.spark.sql.sources.Filter])],
      ownFiles: Set[String]): Unit =
    (prev, check) match {
      case (Some(m), Some((snapFiles, phys))) =>
        val added = m.fragments.filterNot(f =>
          snapFiles.contains(f.file) || ownFiles.contains(f.file))
        val mayMatch = FragmentStats.prune(m.physicalSchema, added, phys)
        if (mayMatch.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"INSERT OVERWRITE WHERE: fragment(s) " +
              s"${mayMatch.map(_.file).mkString(", ")} were committed " +
              "concurrently since the overwrite's snapshot and may hold rows " +
              "matching the predicate - re-run against the current version")
      case _ => ()
    }

  /** The one optimistic commit: read the head of lineage `dir`, let
    * `body` derive the next manifest from it, stamp `version`,
    * `committedAtMs` and `operation`, and publish. A lost publish re-reads
    * the NEW head and re-runs `body` — retrying with the stale base would
    * silently drop the winner's commit (lost update). `body` receives the
    * head with its per-commit `changeFiles` cleared, so `prev.copy(...)`
    * carries every declaration forward; it throws to refuse a head it
    * cannot commit over. `prevHint` is a head the caller just read, used
    * on the first attempt only: a stale hint loses the publish on the
    * existing version file, and the retry reads fresh.
    */
  private[graft] def transact(fs: FileSystem, dir: Path, operation: Option[String],
      publisher: Option[ManifestPublisher] = None,
      prevHint: Option[Option[Manifest]] = None)(
      body: Option[Manifest] => Manifest): Manifest = {
    var attempt = 0
    while (attempt < 20) {
      val prev =
        if (attempt == 0 && prevHint.isDefined) prevHint.get
        else readLatestIn(fs, dir)
      val m = body(prev.map(_.copy(changeFiles = None))).copy(
        version = prev.map(_.version).getOrElse(0L) + 1,
        committedAtMs = System.currentTimeMillis(),
        operation = operation)
      if (commitOnceIn(fs, dir, m, publisher)) return m
      attempt += 1
    }
    throw new IllegalStateException(s"could not commit " +
      s"${operation.getOrElse("version")} after $attempt attempts into $dir")
  }

  /** The carry-forward base of a first version: every optional field unset. */
  private val FirstVersion = Manifest(0L, "", Seq.empty)

  private def existing(prev: Option[Manifest], root: Path): Manifest =
    prev.getOrElse(throw new IllegalStateException(s"no dataset at $root"))

  /** Append fragments as a new version (creates the dataset if absent),
    * merged onto the head of each commit attempt.
    */
  def commitAppend(fs: FileSystem, root: Path, schema: StructType,
      newFragments: Seq[FragmentMeta], epochId: Option[Long] = None,
      publisher: Option[ManifestPublisher] = None,
      streamEpoch: Option[(String, Long)] = None,
      routedBucketSpec: Option[Option[(Seq[Int], Seq[String])]] = None,
      setProperties: Map[String, String] = Map.empty,
      requireProperties: Map[String, String] = Map.empty): Manifest =
    commitAppendIn(fs, versionsPath(root), schema, newFragments, epochId,
      publisher, streamEpoch, routedBucketSpec, setProperties = setProperties,
      requireProperties = requireProperties)

  /** Append into a specific lineage dir (`_versions` or a branch).
    * `routedBucketSpec`: the (physical-name) bucket spec the task writers
    * tagged fragments under, for the spec-race guard — see
    * [[reconcileBucketTags]]. `failIfNewMatching`: scoped-overwrite
    * serializability — (snapshot file set, physical filters); a fragment
    * committed since the snapshot that may hold predicate-matching rows
    * fails the commit loud instead of silently surviving the overwrite. */
  def commitAppendIn(fs: FileSystem, dir: Path, schema: StructType,
      newFragments: Seq[FragmentMeta], epochId: Option[Long] = None,
      publisher: Option[ManifestPublisher] = None,
      streamEpoch: Option[(String, Long)] = None,
      routedBucketSpec: Option[Option[(Seq[Int], Seq[String])]] = None,
      failIfNewMatching: Option[(Set[String], Array[org.apache.spark.sql.sources.Filter])] = None,
      setProperties: Map[String, String] = Map.empty,
      requireProperties: Map[String, String] = Map.empty,
      prevHint: Option[Option[Manifest]] = None): Manifest =
    // prevHint: the head this write's factory already read, so one write
    // reads its head once
    transact(fs, dir, Some("append"), publisher, prevHint) { prev =>
      checkRequiredProperties(prev, requireProperties, dir)
      failNewMatchingSinceSnapshot(prev, failIfNewMatching, Set.empty)
      val base = prev.map(_.fragments).getOrElse(Seq.empty)
      val nextId = base.map(_.id).maxOption.getOrElse(-1) + 1
      val renumbered = reconcileBucketTags(
        newFragments.zipWithIndex.map { case (f, i) => f.copy(id = nextId + i) },
        routedBucketSpec, prev)
      val rules = prev.flatMap(_.constraints)
      val named = mergeColumnDefaults(
        mergeWidenedTypes(mergeLogicalNames(schema,
          prev.flatMap(_.columnMapping).getOrElse(Map.empty)), prev.map(_.schema)),
        prev.map(_.schema))
      // the carried fragmentGroups is packForWrite's chunk-reuse hint: the
      // untouched prefix keeps its content-addressed names
      prev.getOrElse(FirstVersion).copy(
        schemaJson = mergeDeclaredNullability(named, rules).json,
        fragments = base ++ renumbered,
        epochId = epochId,
        streamEpochs = mergeStreamEpochs(prev.flatMap(_.streamEpochs), streamEpoch),
        properties = mergeProperties(prev.flatMap(_.properties), setProperties))
    }

  /** Metadata-only schema change (ALTER TABLE): commit `schema` (and the
    * updated dropped-name list) over the CURRENT fragment list.
    * `expectedSchemaJson` is the base the caller derived its change FROM:
    * if a concurrent commit changed the schema in between (merge-schema
    * append, another ALTER), committing the caller's pre-computed schema
    * would silently erase that evolution — the loop fails loud with
    * ConcurrentModificationException instead, and the caller re-derives.
    * Concurrent commits that do NOT touch the schema (plain appends)
    * retry transparently, fragments re-read per attempt.
    */
  def commitAlter(fs: FileSystem, root: Path, schema: StructType,
      droppedColumns: Seq[String],
      expectedSchemaJson: Option[String] = None,
      publisher: Option[ManifestPublisher] = None,
      mappingTransform: Map[String, String] => Map[String, String] = identity): Manifest =
    transact(fs, versionsPath(root), Some("alter"), publisher) { p =>
      val prev = existing(p, root)
      expectedSchemaJson.foreach { want =>
        if (prev.schemaJson != want) throw new java.util.ConcurrentModificationException(
          s"schema of $root changed concurrently during ALTER - re-run " +
            "against the current schema")
      }
      prev.copy(
        schemaJson = mergeDeclaredNullability(
          mergeLogicalNames(schema, mappingTransform(prev.mapping)),
          prev.constraints).json,
        droppedColumns = Some(droppedColumns).filter(_.nonEmpty),
        columnMapping = Some(mappingTransform(prev.mapping)).filter(_.nonEmpty),
        // a DROPPED cluster column self-heals out of the spec
        clusterBy = prev.clusterBy
          .map(_.filter(schema.fieldNames.contains)).filter(_.nonEmpty),
        // a bucket id depends on EVERY spec column: losing one clears the
        // whole declaration (a partial key would route rows differently)
        bucketBy = prev.bucketBy
          .filter(_.columns.forall(schema.fieldNames.contains)),
        // bloom columns are independent: a DROPPED one self-heals out
        bloomFilters = prev.bloomFilters
          .map(_.filter(schema.fieldNames.contains)).filter(_.nonEmpty))
    }

  /** Swap a set of fragment ids for new fragments in one commit — the
    * copy-on-write primitive under row-level DELETE/UPDATE/MERGE: untouched
    * fragments carry over by reference, old files stay for time travel.
    *
    * A concurrent APPEND merges cleanly (its fragments ride along
    * untouched). A concurrent commit that removed any of the fragments being replaced —
    * another row-level op, a compaction, an overwrite — makes this rewrite
    * stale (it was derived from files that are no longer the table), so it
    * fails loud with [[ConcurrentModificationException]] rather than
    * resurrecting replaced data; the caller re-runs against the new
    * snapshot. Returns (manifest, rows in the removed fragments).
    */
  def commitReplace(fs: FileSystem, root: Path, schema: StructType,
      removedIds: Set[Int], newFragments: Seq[FragmentMeta],
      epochId: Option[Long] = None,
      publisher: Option[ManifestPublisher] = None,
      operation: String = "replace",
      routedBucketSpec: Option[Option[(Seq[Int], Seq[String])]] = None,
      failIfNewMatching: Option[(Set[String], Array[org.apache.spark.sql.sources.Filter])] = None,
      changeFiles: Seq[ChangeFileMeta] = Seq.empty,
      setProperties: Map[String, String] = Map.empty,
      requireProperties: Map[String, String] = Map.empty,
      prevHint: Option[Manifest] = None): (Manifest, Long) = {
    changeFiles.foreach(c => require(ChangeFileMeta.Kinds.contains(c.kind),
      s"unknown change-file kind '${c.kind}'"))
    require(removedIds.nonEmpty, "commitReplace needs at least one fragment to remove")
    var removedRows = 0L
    val m = transact(fs, versionsPath(root), Some(operation), publisher,
        prevHint.map(Some(_))) { p =>
      val prev = existing(p, root)
      checkRequiredProperties(Some(prev), requireProperties, root)
      failNewMatchingSinceSnapshot(Some(prev), failIfNewMatching,
        newFragments.map(_.file).toSet)
      val base = prev.fragments
      val present = base.map(_.id).toSet
      val gone = removedIds -- present
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"fragments ${gone.toSeq.sorted.mkString(",")} were removed by a " +
            s"concurrent commit at $root; re-run the row-level operation " +
            "against the current version")
      val kept = base.filterNot(f => removedIds.contains(f.id))
      removedRows = base.filter(f => removedIds.contains(f.id)).map(_.rowCount).sum
      val nextId = base.map(_.id).maxOption.getOrElse(-1) + 1
      val renumbered = reconcileBucketTags(
        newFragments.zipWithIndex.map { case (f, i) => f.copy(id = nextId + i) },
        routedBucketSpec, Some(prev))
      // a partially-rewritten table keeps droppedColumns: untouched
      // fragments may still hold dropped columns' data
      prev.copy(
        schemaJson = mergeDeclaredNullability(
          mergeColumnDefaults(
            mergeWidenedTypes(mergeLogicalNames(schema, prev.mapping),
              Some(prev.schema)), Some(prev.schema)), prev.constraints).json,
        fragments = kept ++ renumbered,
        epochId = epochId.orElse(prev.epochId),
        changeFiles = Some(changeFiles).filter(_.nonEmpty),
        properties = mergeProperties(prev.properties, setProperties))
    }
    (m, removedRows)
  }

  /** Replace all fragments (overwrite semantics). Old files are kept for
    * time travel; a vacuum can reclaim them later. `operation` defaults
    * to "overwrite"; maintenance callers whose rewrite PRESERVES the row
    * set (compaction, re-clustering) pass "rewrite" so changefeed readers
    * can skip the commit instead of failing.
    */
  def commitOverwrite(fs: FileSystem, root: Path, schema: StructType,
      newFragments: Seq[FragmentMeta], epochId: Option[Long] = None,
      operation: String = "overwrite",
      streamEpoch: Option[(String, Long)] = None,
      routedBucketSpec: Option[Option[(Seq[Int], Seq[String])]] = None,
      setProperties: Map[String, String] = Map.empty,
      requireProperties: Map[String, String] = Map.empty,
      prevHint: Option[Option[Manifest]] = None): Manifest =
    transact(fs, versionsPath(root), Some(operation), None, prevHint) { prev =>
      // the CAS watermark guard holds for overwrite-shaped commits too
      // (a full MV/replica rebuild is an overwrite); re-checked per retry
      checkRequiredProperties(prev, requireProperties, root)
      val rules = prev.flatMap(_.constraints)
      // an ALTER-widened type survives the overwrite like a declared NOT
      // NULL does: the new (narrower-encoded) files read correctly
      // through it, and silently narrowing a declared type back would be
      // the nullability lost-update's sibling
      val named = mergeColumnDefaults(
        mergeWidenedTypes(mergeLogicalNames(schema,
          prev.flatMap(_.columnMapping).getOrElse(Map.empty)),
          prev.map(_.schema)),
        prev.map(_.schema))
      // carried: table-level rules (Delta semantics), replay guards (an
      // old epoch must not re-land after an overwrite wiped the data it
      // once wrote) and the column mapping (the new fragments were
      // written through the same logical->physical translation). Reset:
      // the dropped-name guard (a fresh physical state has nothing to
      // resurrect) and the chunk-reuse hint (no chunk survives).
      prev.getOrElse(FirstVersion).copy(
        // a declared NOT NULL survives the overwrite like its rule does
        // (the rule was enforced against the new batch pre-commit, so the
        // non-nullable flag stays TRUE of the data) — only inference-only
        // nullability resets to the write schema's
        schemaJson = mergeDeclaredNullability(named, rules).json,
        fragments = reconcileBucketTags(
          newFragments.zipWithIndex.map { case (f, i) => f.copy(id = i) },
          routedBucketSpec, prev),
        epochId = epochId,
        droppedColumns = None,
        streamEpochs = mergeStreamEpochs(prev.flatMap(_.streamEpochs), streamEpoch),
        // an overwrite that changed the schema self-heals vanished
        // cluster columns out of the spec (commitAlter's posture)
        clusterBy = prev.flatMap(_.clusterBy)
          .map(_.filter(named.fieldNames.contains)).filter(_.nonEmpty),
        bucketBy = prev.flatMap(_.bucketBy)
          .filter(_.columns.forall(named.fieldNames.contains)),
        bloomFilters = prev.flatMap(_.bloomFilters)
          .map(_.filter(named.fieldNames.contains)).filter(_.nonEmpty),
        properties = mergeProperties(prev.flatMap(_.properties), setProperties),
        fragmentGroups = None)
    }

  /** Rename `s`'s top-level fields per `mapping` (logical → physical).
    * Positions, types, nullability and metadata are untouched, so rows
    * produced under either naming are interchangeable. */
  def toPhysical(s: StructType, mapping: Map[String, String]): StructType =
    if (mapping.isEmpty) s
    else StructType(s.fields.map(f =>
      mapping.get(f.name).fold(f)(p => f.copy(name = p))))

  /** ALTER TABLE RENAME COLUMN — one metadata commit, zero data moved:
    * the field is renamed in the manifest schema and the logical→physical
    * mapping is updated so every fragment (written before or after) keeps
    * reading through its unchanged PHYSICAL name. Refuses loudly when the
    * old name is still load-bearing elsewhere:
    *  - a CHECK constraint expression mentions it (SQL strings cannot be
    *    remapped safely — drop the rule first);
    *  - an index sidecar references it (indexes are column-addressed on
    *    disk — drop and rebuild under the new name);
    * while the STRUCTURED rules are remapped in the same commit: a
    * UNIQUE key component is rewritten, and a declared NOT NULL moves to
    * `not_null_<new>` with its expression (the declaration survives the
    * rename, schema flag included). Re-using a previously DROPPED name is
    * refused for the same reason ALTER ADD refuses it — the name reads as
    * resurrection even though the mapping would point elsewhere.
    */
  def commitRename(fs: FileSystem, root: Path, oldName: String,
      newName: String): Manifest = {
    require(newName.trim.nonEmpty && !newName.contains('`') && !newName.contains('.'),
      s"invalid column name '$newName'")
    requireNoIndexSidecar(fs, root, oldName, "rename",
      "drop the index and rebuild it under the new name")
    transact(fs, versionsPath(root), Some("alter")) { p =>
      val prev = existing(p, root)
      require(prev.schema.fieldNames.contains(oldName),
        s"no column '$oldName' at $root")
      require(!prev.schema.fieldNames.contains(newName),
        s"column '$newName' already exists at $root")
      require(!prev.dropped.contains(newName),
        s"column '$newName' was previously DROPPED and old fragments still " +
          "hold its data - pick another name or rewrite the table first")
      // registered MVs/replicas name source columns logically in their
      // specs — renaming one under them bricks every later refresh/sync
      requireNoDependentReferences(prev, Seq(oldName), "rename")
      // structured rules remap; free-form CHECK expressions refuse
      val word = java.util.regex.Pattern.compile(s"\\b${java.util.regex.Pattern.quote(oldName)}\\b")
      val newRules = prev.checkConstraints.map {
        case (n, e) if uniqueColumns(e).isDefined =>
          n -> (UniquePrefix + uniqueColumns(e).get
            .map(c => if (c == oldName) newName else c).mkString(","))
        case (n, e) if n == notNullRuleName(oldName) =>
          notNullRuleName(newName) -> s"`$newName` IS NOT NULL"
        case (n, e) =>
          require(!word.matcher(e).find(),
            s"cannot rename '$oldName': CHECK constraint '$n' ($e) references " +
              "it - drop the rule first and re-add it under the new name")
          n -> e
      }
      val physical = prev.physicalName(oldName)
      val newMapping = (prev.mapping - oldName) ++
        (if (physical == newName) Map.empty else Map(newName -> physical))
      prev.copy(
        schemaJson = StructType(prev.schema.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f)).json,
        constraints = Some(newRules).filter(_.nonEmpty),
        columnMapping = Some(newMapping).filter(_.nonEmpty),
        // the clustering/bucketing specs name LOGICAL columns: they remap
        // like the structured rules do
        clusterBy = prev.clusterBy.map(_.map(c =>
          if (c == oldName) newName else c)),
        bucketBy = prev.bucketBy.map(b => b.copy(columns =
          b.columns.map(c => if (c == oldName) newName else c))),
        bloomFilters = prev.bloomFilters.map(_.map(c =>
          if (c == oldName) newName else c)),
        // the declared ns-as-long column list names LOGICAL columns too:
        // left stale it would make readNsAsTimestamp/lance_read_ns fail
        // unresolved until the list is re-declared by hand
        properties = prev.properties.map(_.map {
          case (PropNsAsLong, v) => PropNsAsLong ->
            v.split(',').map(c => if (c == oldName) newName else c)
              .mkString(",")
          case kv => kv
        }))
    }
  }

  /** Index sidecars are column-addressed (dir `<col>_<kind>` + metas that
    * name their column/id columns): any reference to the column refuses
    * the schema change — a sidecar built under the old name/type would
    * silently mis-serve after it.
    */
  /** The canonical index-sidecar kinds under `_indices/<column>_<kind>`.
    * EVERY walker of that layout (maintenance refresh, epoch refresh,
    * rename guard) resolves through here — a kind added to one walker
    * but not the others would silently escape maintenance or remap. */
  val IndexSidecarKinds: Seq[String] = Seq("scalar", "fts", "ivf", "hnsw")

  /** All index sidecars of a table as (column, kind), name-sorted;
    * directories with an unknown suffix are not ours and are skipped. */
  def listIndexSidecars(fs: FileSystem, root: Path): Seq[(String, String)] = {
    val indices = new Path(root, "_indices")
    if (!fs.exists(indices)) Seq.empty
    else fs.listStatus(indices).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted
      .flatMap { d =>
        IndexSidecarKinds.find(k => d.endsWith(s"_$k"))
          .map(k => (d.stripSuffix(s"_$k"), k))
      }
  }

  private def requireNoIndexSidecar(fs: FileSystem, root: Path, column: String,
      action: String, remedy: String): Unit = {
    val indices = new Path(root, "_indices")
    if (fs.exists(indices)) fs.listStatus(indices).filter(_.isDirectory).foreach { d =>
      val dirName = d.getPath.getName
      val refs = IndexSidecarKinds.map("_" + _)
        .exists(sfx => dirName == s"$column$sfx") ||
        fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".json"))
          .exists { st =>
            val in = fs.open(st.getPath)
            try {
              val bytes = new Array[Byte](math.min(st.getLen, 1 << 20).toInt)
              in.readFully(0L, bytes)
              new String(bytes, StandardCharsets.UTF_8).contains(s""""$column"""")
            } finally in.close()
          }
      require(!refs,
        s"cannot $action '$column': index sidecar '$dirName' references it - " +
          remedy)
    }
  }

  /** Refuse RENAME/DROP of a column a REGISTERED DEPENDENT references —
    * the CHECK-rule posture applied to derived tables. MV and replica
    * specs live on the DEPENDENT's manifest naming source columns
    * logically (`graft.mv.group-by/aggs/where`, `graft.replica.keys`):
    * renaming or dropping a referenced column would make every later
    * `refresh`/`sync` — and `fullRefresh` too — fail unresolved, with
    * recreate as the only recovery. Exact match for column-list fields;
    * word-boundary match for expression text (aggregate arguments, WHERE
    * — the commitRename CHECK approach). An unreadable dependent is
    * SKIPPED (conservative for the ALTER, never for the dependent: its
    * next refresh degrades to the ordinary unresolved error). */
  private[graft] def requireNoDependentReferences(prev: Manifest,
      columns: Seq[String], action: String): Unit = {
    val props = prev.properties.getOrElse(Map.empty)
    val deps = Seq("graft.mv.dependents", "graft.replica.dependents",
      "graft.mv.dim-dependents")
      .flatMap(k => props.get(k).toSeq.flatMap(_.split('\n'))).filter(_.nonEmpty)
      .distinct
    if (deps.isEmpty) return
    val conf = new org.apache.hadoop.conf.Configuration()
    deps.foreach { dp =>
      val dprops = try {
        val dr = new Path(dp)
        readLatest(fileSystem(dr, conf), dr)
          .flatMap(_.properties).getOrElse(Map.empty)
      } catch { case _: Exception => Map.empty[String, String] }
      val listed: Seq[String] =
        dprops.get("graft.mv.group-by").toSeq.flatMap(_.split(',')) ++
          dprops.get("graft.replica.keys").toSeq.flatMap(_.split(',')) ++
          // star-dim + fact-join keys: both sides (the guard runs on
          // whichever table — source, dim or join — is being altered; a
          // shared name over-refuses, the conservative direction)
          Seq("graft.mv.dims", "graft.mv.joins").flatMap(pk =>
            dprops.get(pk).toSeq.flatMap(_.split('\n'))
              .flatMap(_.split("\\|", 3).last.split(','))
              .flatMap(_.split("=", 2)))
      val exprs: Seq[String] =
        dprops.get("graft.mv.aggs").toSeq.flatMap(_.split('\n'))
          .map(_.split(":", 4).last).filter(_ != "*") ++
          dprops.get("graft.mv.where").toSeq ++
          // expression group keys (`alias:expr` lines): the expr half
          dprops.get("graft.mv.group-exprs").toSeq.flatMap(_.split('\n'))
            .map(_.split(":", 2).last)
      columns.foreach { c =>
        require(!listed.contains(c),
          s"cannot $action '$c': registered dependent $dp references it - " +
            "drop (or recreate) the dependent first")
        val word = java.util.regex.Pattern.compile(
          s"\\b${java.util.regex.Pattern.quote(c)}\\b")
        exprs.foreach(e => require(!word.matcher(e).find(),
          s"cannot $action '$c': registered dependent $dp references it " +
            s"in '$e' - drop (or recreate) the dependent first"))
      }
    }
  }

  /** The value-preserving widening lattice for ALTER COLUMN TYPE: `from`
    * can be read through `to` without loss or rewrite, because Spark's
    * parquet readers up-convert at scan time (Integer→Long, Float→Double,
    * Int/Long→Decimal, Decimal precision growth — the same conversions
    * Delta's type-widening feature leans on). Deliberately excluded:
    * Long→Double (loses precision past 2^53), Float→Decimal (binary
    * fractions don't round-trip), any scale change on decimals (value
    * strings would shift), and anything narrowing.
    */
  def widensTo(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intRank(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2; case IntegerType => 3
      case LongType => 4; case _ => 0
    }
    // decimal digits needed to hold every value of an integral type
    def digitsOf(t: DataType): Int = t match {
      case ByteType => 3; case ShortType => 5; case IntegerType => 10
      case LongType => 20; case _ => Int.MaxValue
    }
    (from, to) match {
      case (f, t) if f == t => false // not a change
      case (f, t) if intRank(f) > 0 && intRank(t) > 0 => intRank(f) < intRank(t)
      case (FloatType, DoubleType) => true
      case (f, DoubleType) if intRank(f) > 0 && intRank(f) <= 3 => true // ≤ int32 exact in a double
      case (f, d: DecimalType) if intRank(f) > 0 =>
        d.scale == 0 && d.precision >= digitsOf(f)
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision > d1.precision
      case _ => false
    }
  }

  /** ALTER TABLE ALTER COLUMN TYPE — one metadata commit, zero data
    * moved: the manifest schema carries the widened type while fragments
    * written before it keep their narrower parquet encoding; the scan's
    * vectorized reader up-converts per file. Only [[widensTo]]
    * transitions are admitted. An index sidecar on the column refuses
    * (its keys were rendered under the old type); CHECK/UNIQUE/NOT NULL
    * rules survive unchanged — widening preserves every value.
    */
  def commitWiden(fs: FileSystem, root: Path, column: String,
      newType: DataType): Manifest = {
    requireNoIndexSidecar(fs, root, column, "widen",
      "drop the index and rebuild it after the type change")
    transact(fs, versionsPath(root), Some("alter")) { p =>
      val prev = existing(p, root)
      val field = prev.schema.fields.find(_.name == column).getOrElse(
        throw new IllegalArgumentException(s"no column '$column' at $root"))
      require(widensTo(field.dataType, newType),
        s"cannot change column '$column' from ${field.dataType.simpleString} " +
          s"to ${newType.simpleString}: only value-preserving widenings are " +
          "supported (byte<short<int<long, float<double, int->double, " +
          "int/long->decimal, decimal precision growth at the same scale)")
      // the bucket hash is TYPE-dependent (murmur3 of int32 ≠ of int64):
      // widening a bucket column would route the same key to a different
      // bucket in post-widen writes, silently breaking co-location
      require(!prev.bucketBy.exists(_.columns.contains(column)),
        s"cannot widen '$column': it is a declared bucket column - clear " +
          "the bucket spec (clusterByBucket with no columns) and re-bucket " +
          "under the new type")
      prev.copy(schemaJson = StructType(prev.schema.fields.map(f =>
        if (f.name == column) f.copy(dataType = newType) else f)).json)
    }
  }

  /** Record (or clear, with an empty list) the declared clustering spec
    * — one metadata commit. [[Lance.cluster]] calls this after its
    * rewrite so every later maintenance rewrite re-establishes the same
    * order; carried forward by every commit kind like constraints are.
    */
  def commitClusterBy(fs: FileSystem, root: Path, cols: Seq[String]): Manifest =
    transact(fs, versionsPath(root), Some("alter")) { p =>
      val prev = existing(p, root)
      cols.foreach(c => require(prev.schema.fieldNames.contains(c),
        s"no column '$c' at $root"))
      require(cols.isEmpty || prev.bucketBy.isEmpty,
        s"table at $root is hash-bucketed (${prev.bucketBy.get.columns.mkString(",")})" +
          " - the two layouts are mutually exclusive; clear the bucket spec first")
      prev.copy(clusterBy = Some(cols).filter(_.nonEmpty))
    }

  /** Declare (or clear, with an empty column list) the hash-bucket layout
    * — one metadata commit; [[graft.Lance.clusterByBucket]] follows it
    * with the routing rewrite. Mutually exclusive with the z-order
    * clustering spec: maintenance rewrites can re-establish one layout,
    * not both.
    */
  def commitBucketBy(fs: FileSystem, root: Path, numBuckets: Int,
      cols: Seq[String], widths: Seq[Int] = Seq.empty): Manifest = {
    require(widths.isEmpty || widths.size == cols.size,
      s"widths (${widths.size}) must align with the key columns (${cols.size})")
    val wv = if (widths.nonEmpty) widths else Seq.fill(cols.size)(numBuckets)
    require(cols.isEmpty || wv.forall(_ > 0),
      s"bucket widths must be positive, got ${wv.mkString(",")}")
    // composite specs are a GRID (one digit PER COLUMN, tag = row-major
    // mixed-radix composition): cap the total so tags stay in Int range
    // and the file count stays sane
    require(cols.isEmpty || BucketHash.totalTags(wv) <= (1 << 20),
      s"bucket grid too wide: ${wv.mkString("*")} = " +
        s"${BucketHash.totalTags(wv)} tags (max ${1 << 20}) - " +
        "composite specs bucket PER COLUMN; use smaller widths")
    transact(fs, versionsPath(root), Some("alter")) { p =>
      val prev = existing(p, root)
      cols.foreach { c =>
        val f = prev.schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"no column '$c' at $root"))
        require(BucketHash.supportedKeyType(f.dataType),
          s"column '$c' (${f.dataType.simpleString}) cannot be a bucket key: " +
            "supported key types are integral, string, date, timestamp, boolean")
      }
      require(cols.isEmpty || prev.clusterBy.forall(_.isEmpty),
        s"table at $root is z-order clustered (${prev.clusterBy.get.mkString(",")})" +
          " - the two layouts are mutually exclusive; cluster([]) first")
      // composite tags are grid-schemed from now on; re-declaring over a
      // legacy (scheme-less) spec reads as a CHANGED spec, so the tag
      // clearing below retires the old tuple-hash tags automatically
      // a uniform-width vector collapses to the scalar field so the
      // manifest stays byte-identical to the pre-widths format
      val mixed = wv.nonEmpty && wv.exists(_ != wv.head)
      // mixed-width specs stamp a DISTINCT scheme ("grid-w"): a pre-widths
      // reader sharing the table would otherwise decode grid digits with
      // the uniform max radix (wrong mixed-radix decomposition) and its
      // compositeTagsReadable gate would pass — silent mis-pruning. An
      // unknown scheme makes that reader fall back to full scans instead.
      val newSpec = Some(BucketSpecMeta(
        if (mixed) wv.max else wv.headOption.getOrElse(numBuckets), cols,
        scheme = Some(if (mixed) "grid-w" else "grid"),
        widths = if (mixed) Some(wv) else None)).filter(_.columns.nonEmpty)
      // a CHANGED spec invalidates every per-fragment bucket tag: the
      // tags were computed under the OLD (n, columns) and reading them
      // through the new spec would mis-prune (silently missing rows) and
      // mis-align storage-partitioned joins. Clearing them here makes the
      // window between this declaration and the routing rewrite merely
      // conservative (no SPJ, no bucket pruning) instead of wrong — the
      // rewrite re-tags every fragment under the new spec.
      val fragments =
        if (prev.bucketBy == newSpec) prev.fragments
        else prev.fragments.map(f =>
          if (f.bucket.isDefined || f.sorted.isDefined)
            f.copy(bucket = None, sorted = None)
          else f)
      prev.copy(fragments = fragments, bucketBy = newSpec)
    }
  }

  /** Declare (or clear, with an empty list) the columns every fragment
    * writes a parquet bloom filter for — one metadata commit; FUTURE
    * fragments carry the filters (appends, DML rewrites, compaction);
    * existing fragments gain them at the next compact()/rewrite, exactly
    * the Delta/Iceberg posture (declaration ≠ rewrite).
    */
  def commitBloomFilters(fs: FileSystem, root: Path,
      cols: Seq[String]): Manifest =
    transact(fs, versionsPath(root), Some("alter")) { p =>
      val prev = existing(p, root)
      cols.foreach { c =>
        val f = prev.schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"no column '$c' at $root"))
        require(bloomEligible(f.dataType),
          s"column '$c' (${f.dataType.simpleString}) cannot carry a bloom " +
            "filter: supported types are integral, string, binary, " +
            "float/double, date, timestamp")
      }
      prev.copy(bloomFilters = Some(cols.distinct).filter(_.nonEmpty))
    }

  /** Types parquet can bloom-filter (INT32/INT64/FLOAT/DOUBLE/BINARY
    * physical representations; BOOLEAN and nested types cannot). */
  def bloomEligible(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BinaryType |
         org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  /** Data commits carry the WRITER's schema, which may predate a
    * concurrent ALTER COLUMN TYPE — committing it verbatim would silently
    * narrow the column back (the nullability lost-update's sibling). Take
    * the wider side per field: the writer's narrower files still read
    * correctly through the widened type.
    */
  private def mergeWidenedTypes(schema: StructType,
      prev: Option[StructType]): StructType = prev match {
    case None => schema
    case Some(p) =>
      val widths = p.fields.map(f => f.name -> f.dataType).toMap
      StructType(schema.fields.map { f =>
        widths.get(f.name) match {
          case Some(wider) if widensTo(f.dataType, wider) => f.copy(dataType = wider)
          case _ => f
        }
      })
  }

  private def mergeStreamEpochs(prev: Option[Map[String, Long]],
      update: Option[(String, Long)]): Option[Map[String, Long]] = {
    val cur = prev.getOrElse(Map.empty)
    val next = update.fold(cur) { case (q, e) => cur + (q -> e) }
    Some(next).filter(_.nonEmpty)
  }

  /** Union of two fragment schemas by column NAME (Delta-style
    * mergeSchema): columns present in both must agree on type exactly
    * (no implicit widening — silent precision changes are how data gets
    * corrupted at scale); columns in only one side come along nullable,
    * existing order first, additions appended. Fragments read by name,
    * so a fragment missing a merged column yields NULLs for it.
    */
  def mergeSchemas(existing: StructType, incoming: StructType): StructType = {
    val byName = incoming.fields.map(f => f.name -> f).toMap
    existing.fields.foreach { f =>
      byName.get(f.name).foreach { g =>
        // a NARROWER write into a wider column is fine: its files read up
        // through the table type at scan time (the widening read path).
        // A WIDER write still refuses — that needs a declared ALTER.
        if (g.dataType != f.dataType && !widensTo(g.dataType, f.dataType)) {
          val hint =
            if (widensTo(f.dataType, g.dataType))
              " - widen the table first (ALTER TABLE ... ALTER COLUMN " +
                s"${f.name} TYPE ${g.dataType.simpleString})"
            else ""
          throw new IllegalArgumentException(
            s"cannot merge schemas: column '${f.name}' is ${f.dataType.simpleString} " +
              s"in the table but ${g.dataType.simpleString} in the write" + hint)
        }
      }
    }
    val existingNames = existing.fieldNames.toSet
    val added = incoming.fields.filterNot(f => existingNames.contains(f.name))
    val kept = existing.fields.map { f =>
      // a column absent from the incoming write has nulls in the new
      // fragments; a column added now has nulls in the old ones
      if (byName.contains(f.name)) f else f.copy(nullable = true)
    }
    StructType(kept ++ added.map(_.copy(nullable = true)))
  }

  /** Create an empty dataset with just a schema (lazy materialization,
    * reference `LanceCatalog.java:557-579`).
    */
  def create(fs: FileSystem, root: Path, schema: StructType): Manifest =
    transact(fs, versionsPath(root), None) { prev =>
      // refused on every attempt: a create that lost the publish must not
      // land its empty schema over the winner's table
      require(prev.isEmpty, s"dataset already exists at $root")
      fs.mkdirs(dataPath(root))
      FirstVersion.copy(schemaJson = schema.json)
    }

  /** Is `file` an EXTERNAL fragment reference — an absolute path or full
    * URI into ANOTHER dataset's data directory? Zero-copy clones
    * ([[graft.Lance.clone]]) commit these verbatim instead of copying
    * data; everything else in the manifest carries bare names under this
    * dataset's own `data/`. External refs are read-only borrows: every
    * deletion path (vacuum, rollback) must skip them — reclaiming the
    * bytes is the SOURCE table's prerogative.
    */
  def isExternalRef(file: String): Boolean =
    // absolute path, or any scheme'd URI — `FileSystem.makeQualified`
    // renders local files as `file:/...` (ONE slash), so match the
    // scheme, not a literal "://"
    file.startsWith("/") || file.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*")

  /** The one canonical resolution of a manifest fragment `file` string:
    * external references verbatim, names under this dataset's data dir.
    */
  def fragmentPath(root: Path, file: String): Path =
    if (isExternalRef(file)) new Path(file) else new Path(dataPath(root), file)

  def fragmentFiles(root: Path, m: Manifest): Seq[Path] =
    m.fragments.map(f => fragmentPath(root, f.file))

  /** Reclaim storage: keep the newest `keepVersions` manifests, delete
    * older ones plus the fragment files only those dropped versions
    * referenced. Scoping deletion to dropped-manifest references (instead
    * of "anything unreferenced") keeps in-flight writer files safe: a task
    * that has written fragments the driver has not yet committed owns
    * files no manifest references, and deleting them would corrupt the
    * commit that is about to land.
    * Returns (manifests deleted, fragment files deleted).
    */
  def vacuum(fs: FileSystem, root: Path, keepVersions: Int = 1,
      olderThanMillis: Option[Long] = None): (Int, Int) = {
    require(keepVersions >= 1, "must keep at least the latest version")
    require(olderThanMillis.forall(_ >= 0), "olderThanMillis must be >= 0")
    val versions = listVersions(fs, root)
    // tagged versions are pinned: a tag is a promise that the snapshot
    // stays readable (Iceberg's tag-retention contract) — vacuum keeps
    // the manifest AND every fragment file it references
    val tagged = listTags(fs, root).map(_.version).toSet
    // time-based retention (Delta/Iceberg `older_than`): a version
    // committed INSIDE the horizon survives regardless of count — the
    // production contract is "readers started in the last N hours keep
    // their snapshot", which a version-count policy cannot express
    val horizon = olderThanMillis.map(System.currentTimeMillis() - _)
    val (drop, keep) = {
      val (d, k) = versions.splitAt(math.max(0, versions.size - keepVersions))
      val (rescued, dropOld) = d.partition(tagged)
      val (young, reallyDrop) = horizon match {
        case Some(h) => dropOld.partition(v =>
          readManifest(fs, root, v).committedAtMs >= h)
        case None => (Seq.empty[Long], dropOld)
      }
      (reallyDrop, rescued ++ young ++ k)
    }
    // branch manifests are reference ROOTS too: data under an active
    // branch must survive a main-side vacuum (deleteBranch + vacuum is
    // how branch data is reclaimed)
    val keptManifests = keep.map(v => readManifest(fs, root, v))
    val droppedManifests = drop.map(v => readManifest(fs, root, v))
    // change-data-feed files are version-referenced like fragments: a
    // retained DML commit keeps its pre/post images readable
    def refs(m: Manifest): Seq[String] =
      m.fragments.map(_.file) ++ m.changeFiles.getOrElse(Seq.empty).map(_.file)
    val kept = keptManifests.flatMap(refs).toSet ++
      branchReferencedFiles(fs, root)
    val dropped = droppedManifests.flatMap(refs).toSet
    // group files are refcounted exactly like fragment files: one
    // referenced by any retained version (or a branch) survives
    val keptGroups = keptManifests.flatMap(_.fragmentGroups.getOrElse(Seq.empty)).toSet ++
      branchReferencedGroups(fs, root)
    val droppedGroups = droppedManifests
      .flatMap(_.fragmentGroups.getOrElse(Seq.empty)).toSet
    drop.foreach { v =>
      fs.delete(new Path(versionsPath(root), s"$v$ManifestSuffix"), false)
    }
    var removed = 0
    // external refs (zero-copy clones) are borrows of another table's
    // files — never delete them here, whatever versions dropped
    (dropped -- kept).filterNot(isExternalRef).foreach { f =>
      if (fs.delete(new Path(dataPath(root), f), false)) removed += 1
    }
    (droppedGroups -- keptGroups).foreach { g =>
      fs.delete(new Path(groupsPath(root), g), false)
    }
    (drop.size, removed)
  }

  // ------------------------------------------------------------------ tags

  /** A named, immutable pointer to a committed version (Lance datasets
    * and Iceberg both ship tags; Delta spells it a point-in-time CLONE).
    * Tags pin their version against [[vacuum]] and resolve in reads via
    * the `tagAsOf` option — "the exact corpus snapshot model m was
    * trained on", addressable by name years later, is the 100 TB use.
    */
  case class TagInfo(name: String, version: Long, taggedAtMs: Long = 0L)

  val TagsDir = "_tags"
  def tagsPath(root: Path) = new Path(root, TagsDir)
  private val TagNameRe = "[A-Za-z0-9][A-Za-z0-9._-]{0,127}".r

  /** Shared naming contract for tags, branches, and constraints — also
    * the PATH-TRAVERSAL guard: names become file/directory components
    * under the dataset root, so `/` and `..` shapes must never resolve
    * (a `branch='../_versions'` would otherwise commit onto MAIN). Every
    * surface that touches a named ref — create AND lookup — validates. */
  def validateName(kind: String, name: String): String = {
    require(TagNameRe.pattern.matcher(name).matches(),
      s"invalid $kind name '$name' (want [A-Za-z0-9][A-Za-z0-9._-]*, <=128 chars)")
    name
  }
  private def tagFile(root: Path, name: String) =
    new Path(tagsPath(root), s"${validateName("tag", name)}.json")

  /** Create (or with `replace=true` move) tag `name` → `version`
    * (default: latest). Creation rides the same atomic-if-absent
    * publisher as manifests, so two racing `tag` calls resolve to
    * exactly one winner on every supported store; the loser fails loud
    * instead of silently re-pointing a name someone else just pinned.
    */
  def writeTag(fs: FileSystem, root: Path, name: String,
      version: Option[Long] = None, replace: Boolean = false): TagInfo = {
    validateName("tag", name)
    val v = version.getOrElse(latestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $root")))
    require(listVersions(fs, root).contains(v), s"no version $v at $root")
    val info = TagInfo(name, v, System.currentTimeMillis())
    val target = tagFile(root, name)
    fs.mkdirs(tagsPath(root))
    if (replace) fs.delete(target, false)
    val won = ManifestPublisher.forFileSystem(fs).publish(fs, target,
      Serialization.write(info).getBytes(StandardCharsets.UTF_8))
    if (!won) throw new IllegalArgumentException(
      s"tag '$name' already exists at $root (pass replace=true to move it)")
    info
  }

  def readTag(fs: FileSystem, root: Path, name: String): Option[TagInfo] = {
    val p = tagFile(root, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
        val sb = new StringBuilder
        var line = reader.readLine()
        while (line != null) { sb.append(line).append('\n'); line = reader.readLine() }
        Some(Serialization.read[TagInfo](sb.toString))
      } finally in.close()
    }
  }

  def listTags(fs: FileSystem, root: Path): Seq[TagInfo] = {
    val tp = tagsPath(root)
    if (!fs.exists(tp)) Seq.empty
    else fs.listStatus(tp).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".json")).sorted
      .flatMap(n => readTag(fs, root, n.stripSuffix(".json")))
  }

  def deleteTag(fs: FileSystem, root: Path, name: String): Boolean =
    fs.delete(tagFile(root, name), false)

  /** UNIQUE constraints ride the SAME manifest rule map as CHECK rules
    * (one carry-forward path through every commit kind), distinguished by
    * this sentinel expression prefix — `__unique__:<column>` — because
    * uniqueness is not a row-local boolean: enforcement needs the batch
    * AND the visible table ([[graft.connector.LanceWrite]] splits the
    * rule kinds before evaluating). SQL UNIQUE semantics: NULLs are
    * exempt (any number of null keys). */
  val UniquePrefix = "__unique__:"
  def uniqueColumn(expr: String): Option[String] =
    if (expr.startsWith(UniquePrefix)) Some(expr.stripPrefix(UniquePrefix))
    else None
  /** Key columns of a UNIQUE rule — one or more (composite natural keys
    * like `(source, doc_id)` render as `__unique__:source,doc_id`). */
  def uniqueColumns(expr: String): Option[Seq[String]] =
    uniqueColumn(expr).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  /** The reserved rule name a DECLARED NOT NULL commits under
    * (`Lance.setNotNull`). The name is load-bearing: it is how every
    * commit path tells a USER-declared non-nullable column (refuse NULLs,
    * keep the schema non-nullable under concurrency) from one that is
    * non-nullable only by `toDF` INFERENCE (NULLs arriving later widen
    * the stored schema instead — Delta's posture). `addConstraint`
    * reserves the prefix so a hand-added CHECK rule can never forge a
    * declaration. */
  val NotNullPrefix = "not_null_"
  def notNullRuleName(column: String): String = s"$NotNullPrefix$column"
  /** Columns the constraint map DECLARES non-nullable. */
  def declaredNonNullable(constraints: Map[String, String]): Set[String] =
    constraints.keysIterator.filter(_.startsWith(NotNullPrefix))
      .map(_.stripPrefix(NotNullPrefix)).toSet

  /** Re-assert CURRENT logical names over a caller-provided schema under
    * optimistic concurrency. A writer that derived its schema BEFORE a
    * concurrent RENAME landed carries the old logical names — which are
    * exactly the renamed columns' stable PHYSICAL names — and committing
    * them as-is would silently revert the rename (the schema/mapping
    * mis-pair cousin of the nullability race below). Mapping such names
    * back (physical → current logical) inside the retry loop makes the
    * rename win. The distinct-names guard catches the one shape the
    * merge cannot reconcile: a write/ALTER introducing a NEW column
    * whose name is another column's physical name (it would collide
    * on disk with the renamed column's bytes) — refused loudly, the
    * resurrection guard's rename-flavored cousin. */
  private def mergeLogicalNames(schema: StructType,
      mapping: Map[String, String]): StructType = {
    if (mapping.isEmpty) return schema
    val physToLogical = mapping.map(_.swap)
    val merged = StructType(schema.fields.map(f =>
      physToLogical.get(f.name).fold(f)(l => f.copy(name = l))))
    val dup = merged.fieldNames.groupBy(identity).collect {
      case (n, ns) if ns.length > 1 => n }
    require(dup.isEmpty,
      s"column name collision: ${dup.mkString(", ")} is the PHYSICAL name " +
        "of a renamed column - a new column may not reuse it (old fragments " +
        "physically hold that name's bytes); pick another name")
    merged
  }

  /** Re-assert DECLARED nullability over a caller-provided schema, from
    * the constraint set the manifest will actually carry. Runs INSIDE the
    * commit retry loops: a writer that derived its schema before a
    * concurrent `setNotNull` landed would otherwise commit the stale
    * nullable flag while the re-merged rule set carries the rule — the
    * exact schema/rule mis-pair `commitConstraints` exists to prevent.
    * Declared-only on purpose: inference-only nullability is the caller's
    * to widen (NULLs arriving), never forced back. */
  private def mergeDeclaredNullability(schema: StructType,
      constraints: Option[Map[String, String]]): StructType = {
    val declared = declaredNonNullable(constraints.getOrElse(Map.empty))
    if (declared.isEmpty) schema
    else StructType(schema.fields.map(f =>
      if (declared(f.name) && f.nullable) f.copy(nullable = false) else f))
  }

  /** Optimistic CAS on table properties inside a commit loop: every
    * listed key must hold exactly the listed value in the PREVIOUS
    * manifest or the commit refuses — what makes two concurrent
    * MV-refresh/replica-sync windows collide loudly instead of the
    * second one double-applying its delta through a pure-insert append
    * (which has no fragment-level conflict to trip over). */
  private[graft] def checkRequiredProperties(prev: Option[Manifest],
      required: Map[String, String], root: Path): Unit =
    if (required.nonEmpty) {
      val cur = prev.flatMap(_.properties).getOrElse(Map.empty)
      required.foreach { case (k, v) =>
        // null required value = the key must be ABSENT (the mergeProperties
        // null-unsets convention applied to the CAS side): lets a committer
        // assert a never-before-set pre-state, e.g. the WAP publish token
        val holds = if (v == null) !cur.contains(k) else cur.get(k).contains(v)
        if (!holds)
          throw new java.util.ConcurrentModificationException(
            s"required property $k=${Option(v).getOrElse("<absent>")} does " +
              s"not hold at $root (found " +
              s"${cur.get(k).getOrElse("<absent>")}): the watermark moved " +
              "under this commit - re-derive from the current state and re-run")
      }
    }

  /** Overlay a property mutation onto the previous map inside a commit
    * retry loop: `null`-valued entries UNSET their key (so one mutation
    * can set and clear in a single commit); everything else overwrites.
    * Re-merged per attempt against the re-read prev — two concurrent
    * property commits compose instead of losing one (the constraints
    * lost-update posture). */
  private[graft] def mergeProperties(prev: Option[Map[String, String]],
      mutation: Map[String, String]): Option[Map[String, String]] = {
    if (mutation.isEmpty) prev
    else {
      val (unsets, sets) = mutation.partition(_._2 == null)
      Some(prev.getOrElse(Map.empty) -- unsets.keys ++ sets).filter(_.nonEmpty)
    }
  }

  /** Metadata-only table-properties commit ([[graft.Lance.setProperties]]
    * facade; internal `graft.mv.*` bookkeeping). Same retry/merge shape
    * as [[commitConstraints]]: the mutation applies to the rev-read
    * CURRENT map each attempt, so concurrent property edits compose. */
  def commitProperties(fs: FileSystem, root: Path,
      mutation: Map[String, String],
      publisher: Option[ManifestPublisher] = None): Manifest = {
    require(mutation.nonEmpty, "empty property mutation")
    commitPropertiesWith(fs, root,
      prev => mergeProperties(Some(prev).filter(_.nonEmpty), mutation)
        .getOrElse(Map.empty), publisher)
  }

  /** Function-shaped property commit for read-modify-write mutations
    * (list-append registration, [[graft.operators.MaterializedView]]'s
    * dependents): `mutate` re-derives from the CURRENT map inside the
    * retry loop, so two concurrent appends compose instead of losing
    * one — the [[commitConstraints]] posture. */
  def commitPropertiesWith(fs: FileSystem, root: Path,
      mutate: Map[String, String] => Map[String, String],
      publisher: Option[ManifestPublisher] = None): Manifest =
    transact(fs, versionsPath(root), Some("alter"), publisher) { p =>
      val prev = existing(p, root)
      prev.copy(properties = Some(mutate(prev.properties.getOrElse(Map.empty)))
        .filter(_.nonEmpty))
    }

  /** Metadata-only constraints change: `mutate` transforms the CURRENT
    * rule set inside the retry loop — re-deriving per attempt is what
    * keeps two concurrent add/drop_constraint calls from silently losing
    * one edit (the lost-update shape commitAppend re-merges against).
    * `schemaTransform` (optional) rewrites the schema IN THE SAME commit
    * — NOT NULL flips the column's nullability alongside its rule, so the
    * two can never disagree. Validation of existing data is the CALLER's
    * job (facade).
    */
  def commitConstraints(fs: FileSystem, root: Path,
      mutate: Map[String, String] => Map[String, String],
      publisher: Option[ManifestPublisher] = None,
      schemaTransform: Option[StructType => StructType] = None): Manifest =
    transact(fs, versionsPath(root), Some("alter"), publisher) { p =>
      val prev = existing(p, root)
      prev.copy(
        schemaJson = schemaTransform.fold(prev.schemaJson)(t => t(prev.schema).json),
        constraints = Some(mutate(prev.checkConstraints)).filter(_.nonEmpty))
    }

  // -------------------------------------------------------------- branches

  /** Branches: append-only named lineages (Iceberg branches, v1 scope).
    * A branch is its own manifest directory seeded with a byte-verbatim
    * COPY of a main version's manifest — creating one is O(1 manifest),
    * never a data copy: the 100 TB experimentation shape (try a new
    * curation/filter pipeline against production data, validate, then
    * fast-forward main or throw the branch away). Branch commits append
    * into the branch dir with the same optimistic MVCC as main; data
    * files all live under the shared `data/` dir (append-only writers
    * never collide on files). Row-level DML / overwrite / compaction on
    * a branch are out of scope and refused loudly — merge semantics
    * beyond fast-forward need conflict detection this format does not
    * carry. Append-only adoption covers the real workflows instead:
    * [[fastForward]] (main unmoved), [[rebaseBranch]] (adopt ALL
    * branch-only fragments onto a diverged main) and [[cherryPick]]
    * (adopt ONE branch commit). GC ([[vacuum]], [[removeOrphans]])
    * treats every branch
    * manifest as a reference root, so branch data cannot be reclaimed
    * from under it; [[deleteBranch]] + vacuum reclaims.
    */
  val BranchesDir = "_branches"
  def branchesPath(root: Path) = new Path(root, BranchesDir)
  def branchPath(root: Path, name: String) =
    new Path(branchesPath(root), validateName("branch", name))

  /** Seed branch `name` from `fromVersion` (default: latest). The
    * branch's version numbering CONTINUES main's — its first manifest is
    * the base version itself, which is what makes [[fastForward]]'s
    * "main has not moved" check a version-number comparison. Returns the
    * base version.
    */
  def createBranch(fs: FileSystem, root: Path, name: String,
      fromVersion: Option[Long] = None): Long = {
    validateName("branch", name)
    val v = fromVersion.getOrElse(latestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no lance dataset at $root")))
    require(listVersions(fs, root).contains(v), s"no version $v at $root")
    val bp = branchPath(root, name)
    require(!fs.exists(bp), s"branch '$name' already exists at $root")
    fs.mkdirs(bp)
    val base = readManifest(fs, root, v)
    // a two-level base forks by GROUP REFERENCE: the branch manifest
    // reuses the groups byte for byte (they live at the shared table
    // root), so a fork is O(1 manifest) at any fragment count
    val baseForWrite =
      if (base.fragmentGroups.exists(_.nonEmpty)) base.copy(fragments = Seq.empty)
      else base
    val won = ManifestPublisher.forFileSystem(fs).publish(fs,
      new Path(bp, s"$v$ManifestSuffix"),
      Serialization.write(baseForWrite).getBytes(StandardCharsets.UTF_8))
    if (!won) throw new IllegalArgumentException(
      s"branch '$name' already exists at $root")
    v
  }

  /** (name, baseVersion, headVersion) per branch, name-sorted. */
  def listBranches(fs: FileSystem, root: Path): Seq[(String, Long, Long)] = {
    val bp = branchesPath(root)
    if (!fs.exists(bp)) Seq.empty
    else fs.listStatus(bp).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .sorted.flatMap { name =>
        val vs = listVersionsIn(fs, branchPath(root, name))
        if (vs.isEmpty) None else Some((name, vs.head, vs.last))
      }
  }

  def deleteBranch(fs: FileSystem, root: Path, name: String): Boolean =
    fs.delete(branchPath(root, name), true)

  /** Adopt the branch head on main as one new commit — allowed only when
    * main has NOT advanced past the branch's base (the git fast-forward
    * contract; anything else is a merge, out of scope). Returns
    * (branchHeadVersion, newMainVersion); a commit-less branch
    * fast-forwards as a no-op.
    */
  def fastForward(fs: FileSystem, root: Path, name: String,
      expectedHead: Option[Long] = None): (Long, Long) = {
    val bp = branchPath(root, name)
    require(fs.exists(bp), s"no branch '$name' at $root")
    val vs = listVersionsIn(fs, bp)
    require(vs.nonEmpty, s"branch '$name' at $root has no manifests")
    expectedHead.foreach(h => if (vs.last != h)
      throw new java.util.ConcurrentModificationException(
        s"branch '$name' advanced to v${vs.last} past the audited head " +
          s"v$h - re-audit before publishing"))
    val base = vs.head
    val mainLatest = readLatest(fs, root).getOrElse(
      throw new IllegalStateException(s"no dataset at $root"))
    if (vs.last == base) return (base, mainLatest.version) // nothing to adopt
    require(mainLatest.version == base,
      s"cannot fast-forward '$name': main is at v${mainLatest.version}, " +
        s"branch forked at v$base — divergent histories need a merge, " +
        "which this format does not support")
    val head = readManifestIn(fs, bp, vs.last)
    val m = commitOver(fs, root, "fast-forward", mainLatest,
      s"cannot fast-forward '$name': main advanced concurrently past " +
        s"v${mainLatest.version} — histories are now divergent") { prev =>
      // the branch head's whole state (the mapping travels with the schema
      // it names), but replay guards are MAIN-lineage state: keep main's,
      // not the fork-time copy
      head.copy(streamEpochs = prev.streamEpochs, changeFiles = None)
    }
    (vs.last, m.version)
  }

  /** Commit over exactly `proven`, the main head a branch adoption ran its
    * proofs against. Losing the publish refuses with `conflict` instead of
    * retrying: main moved, the proofs no longer hold, and landing at the
    * next number would publish the adoption OVER the concurrent commit —
    * a silent lost update. The caller re-runs against the new state. */
  private def commitOver(fs: FileSystem, root: Path, operation: String,
      proven: Manifest, conflict: => String)(body: Manifest => Manifest): Manifest =
    transact(fs, versionsPath(root), Some(operation),
        prevHint = Some(Some(proven))) { p =>
      val prev = existing(p, root)
      if (prev.version != proven.version)
        throw new java.util.ConcurrentModificationException(conflict)
      body(prev)
    }

  /** Rebase an APPEND-ONLY branch onto main's CURRENT head — the merge
    * case [[fastForward]] refuses: main advanced past the branch point.
    * Append-only lineages cannot conflict (no branch commit removed or
    * rewrote a fragment both sides share), so adoption is "re-commit the
    * branch-only fragment list on top of main's head" — one metadata
    * commit, no data copy, the 100 TB "experiment on a branch while
    * production keeps ingesting, then land it" workflow.
    *
    * Safety proofs, all loud refusals:
    *  - every branch commit since the fork must be an `append` that only
    *    ADDED fragments — any DML / overwrite / compaction on the branch
    *    lineage is a real merge and is refused;
    *  - the branch head's schema must merge cleanly into MAIN's current
    *    schema ([[mergeSchemas]]), and a branch column whose name main
    *    has since DROPPED is refused (the resurrection guard — old
    *    fragments still hold the dropped values);
    *  - `validate` runs over the branch-only fragments BEFORE the commit
    *    (the facade proves MAIN's current CHECK constraints there, which
    *    may be stricter than the fork-time rules the branch enforced);
    *  - a commit at exactly mainHead+1 ([[commitOver]]): if main moved
    *    after the proofs — including a concurrent add_constraint, which
    *    commits a version — the rebase fails loud with
    *    [[java.util.ConcurrentModificationException]] and the caller
    *    re-runs against the new state.
    *
    * Idempotent: branch-only fragments already present on main (a prior
    * rebase landed, the caller re-ran) are skipped; nothing new → no
    * commit. The branch itself is left untouched — delete it once its
    * work is adopted. Returns (branchHeadVersion, newMainVersion).
    */
  /** Prove a branch lineage is append-only since its fork — the shared
    * precondition for any adoption that reasons per-fragment (rebase and
    * the quarantine publish's row split alike): a branch commit that
    * REMOVED fragments would make "branch-only fragments" double-count
    * or resurrect rows. */
  /** `versions`: pass the branch's already-listed manifest versions to
    * skip a duplicate directory LIST (both callers hold one). Returns
    * the BASE manifest's fragments so the caller can reuse them instead
    * of re-reading the fork-point manifest. */
  private[graft] def requireAppendOnlyBranch(fs: FileSystem, bp: Path,
      name: String, verb: String,
      versions: Option[Seq[Long]] = None): Seq[FragmentMeta] = {
    val vs = versions.getOrElse(listVersionsIn(fs, bp))
    val base = vs.head
    val baseFragments = readManifestIn(fs, bp, base).fragments
    var prev = baseFragments
    vs.filter(_ > base).foreach { v =>
      val m = readManifestIn(fs, bp, v)
      require(m.operation.contains("append"),
        s"cannot $verb '$name': branch v$v is a " +
          s"${m.operation.getOrElse("pre-operation-field")} commit, not an " +
          "append - non-append branch histories need a merge, which this " +
          "format does not support")
      val curFiles = m.fragments.map(_.file).toSet
      val removed = prev.filterNot(f => curFiles.contains(f.file))
      require(removed.isEmpty,
        s"cannot $verb '$name': branch v$v removed fragment(s) " +
          s"${removed.map(_.file).mkString(", ")} - not append-only")
      prev = m.fragments
    }
    baseFragments
  }

  def rebaseBranch(fs: FileSystem, root: Path, name: String,
      validate: (StructType, Seq[FragmentMeta]) => Unit = (_, _) => (),
      expectedHead: Option[Long] = None): (Long, Long) = {
    val bp = branchPath(root, name)
    require(fs.exists(bp), s"no branch '$name' at $root")
    val vs = listVersionsIn(fs, bp)
    require(vs.nonEmpty, s"branch '$name' at $root has no manifests")
    expectedHead.foreach(h => if (vs.last != h)
      throw new java.util.ConcurrentModificationException(
        s"branch '$name' advanced to v${vs.last} past the audited head " +
          s"v$h - re-audit before publishing"))
    val base = vs.head
    val mainLatest = readLatest(fs, root).getOrElse(
      throw new IllegalStateException(s"no dataset at $root"))
    if (vs.last == base) return (base, mainLatest.version) // nothing to adopt
    val baseFrags = requireAppendOnlyBranch(fs, bp, name, "rebase", Some(vs))
    val head = readManifestIn(fs, bp, vs.last)
    val baseFiles = baseFrags.map(_.file).toSet
    val mainFiles = mainLatest.fragments.map(_.file).toSet
    val branchOnly = head.fragments.filterNot(f =>
      baseFiles.contains(f.file) || mainFiles.contains(f.file))
    if (branchOnly.isEmpty) return (vs.last, mainLatest.version) // idempotent
    // schema union against MAIN's CURRENT schema, with the resurrection
    // guard (a branch column main has since dropped must not come back)
    val resurrected = head.schema.fieldNames.toSet
      .diff(mainLatest.schema.fieldNames.toSet)
      .intersect(mainLatest.dropped.toSet)
    require(resurrected.isEmpty,
      s"cannot rebase '$name': column(s) ${resurrected.mkString(", ")} were " +
        "DROPPED on main after the fork and old fragments still hold their " +
        "data - rebasing would resurrect those values")
    val merged = mergeSchemas(mainLatest.schema, head.schema)
    validate(merged, branchOnly)
    val nextId = mainLatest.fragments.map(_.id).maxOption.getOrElse(-1) + 1
    // adopted fragments carry bucket/sorted verdicts computed under the
    // BRANCH's (fork-time) spec; if main re-declared its layout since,
    // reading those tags through main's spec would mis-prune and
    // mis-align joins — clear them (conservative: the fragments become
    // unprunable until the next routing rewrite, never wrong)
    val sameSpec = head.bucketBy == mainLatest.bucketBy
    val renumbered = branchOnly.zipWithIndex.map { case (f, i) =>
      val g = f.copy(id = nextId + i)
      if (sameSpec) g else g.copy(bucket = None, sorted = None)
    }
    // "rebase" is adds-only: changefeed readers emit the adopted
    // fragments as inserts, exactly like an append
    val m = commitOver(fs, root, "rebase", mainLatest,
      s"cannot rebase '$name': main advanced concurrently past " +
        s"v${mainLatest.version} - re-run against the new state") { prev =>
      prev.copy(schemaJson = merged.json, fragments = prev.fragments ++ renumbered)
    }
    (vs.last, m.version)
  }

  /** CHERRY-PICK one branch commit into main (the git shape): the
    * fragments branch version `version` ADDED over its predecessor
    * append to main BY REFERENCE — one metadata commit, no data copied,
    * the branch untouched. Unlike [[rebaseBranch]] only the PICKED
    * commit must be an append (earlier branch rewrites don't matter:
    * an append's added fragments hold new rows by definition);
    * fragments main already references are skipped, so a re-pick is
    * idempotent. Same dropped-column resurrection guard, stale
    * bucket-tag clearing and constraint `validate` hook as rebase.
    * Returns (fragmentsAdopted, newMainVersion). */
  def cherryPick(fs: FileSystem, root: Path, name: String, version: Long,
      validate: (StructType, Seq[FragmentMeta]) => Unit = (_, _) => ())
      : (Int, Long) = {
    val bp = branchPath(root, name)
    require(fs.exists(bp), s"no branch '$name' at $root")
    val vs = listVersionsIn(fs, bp)
    require(vs.contains(version),
      s"branch '$name' has no version $version (has: ${vs.mkString(",")})")
    val base = vs.head
    require(version > base, s"v$version is the branch's fork point - " +
      "it holds main data, nothing to pick")
    val picked = readManifestIn(fs, bp, version)
    require(picked.operation.contains("append"),
      s"cannot cherry-pick '$name' v$version: it is a " +
        s"${picked.operation.getOrElse("pre-operation-field")} commit, " +
        "not an append - only appended fragments can adopt by reference " +
        "without double-publishing rows")
    val prevV = vs.filter(_ < version).last
    val prevFiles = readManifestIn(fs, bp, prevV).fragments.map(_.file).toSet
    val added = picked.fragments.filterNot(f => prevFiles.contains(f.file))
    val mainLatest = readLatest(fs, root).getOrElse(
      throw new IllegalStateException(s"no dataset at $root"))
    val mainFiles = mainLatest.fragments.map(_.file).toSet
    val toAdopt = added.filterNot(f => mainFiles.contains(f.file))
    if (toAdopt.isEmpty) return (0, mainLatest.version) // idempotent
    // main's schema gains ONLY the columns the picked fragments
    // PHYSICALLY hold: the picked manifest's schema is cumulative over
    // the whole branch history, and a column an earlier UNPICKED commit
    // introduced must not ride in. Footer reads are driver-side,
    // bounded by the picked fragment count.
    val physical: Set[String] = {
      import scala.jdk.CollectionConverters._
      toAdopt.flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          fs.getConf, fragmentPath(root, f.file))
        try r.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
        finally r.close()
      }.toSet
    }
    val inverse = picked.mapping.map(_.swap) // physical -> logical
    val held = physical.map(p => inverse.getOrElse(p, p))
    val pickedSchema = StructType(
      picked.schema.fields.filter(f => held.contains(f.name)))
    val resurrected = held
      .diff(mainLatest.schema.fieldNames.toSet)
      .intersect(mainLatest.dropped.toSet)
    require(resurrected.isEmpty,
      s"cannot cherry-pick '$name' v$version: column(s) " +
        s"${resurrected.mkString(", ")} were DROPPED on main and the " +
        "picked fragments still hold their data")
    val merged = mergeSchemas(mainLatest.schema, pickedSchema)
    validate(merged, toAdopt)
    val nextId = mainLatest.fragments.map(_.id).maxOption.getOrElse(-1) + 1
    val sameSpec = picked.bucketBy == mainLatest.bucketBy
    val renumbered = toAdopt.zipWithIndex.map { case (f, i) =>
      val g = f.copy(id = nextId + i)
      if (sameSpec) g else g.copy(bucket = None, sorted = None)
    }
    // "cherry-pick" is adds-only: changefeed readers see the picked
    // fragments as inserts, exactly like an append
    val m = commitOver(fs, root, "cherry-pick", mainLatest,
      s"cannot cherry-pick '$name' v$version: main advanced concurrently " +
        s"past v${mainLatest.version} - re-run against the new state") { prev =>
      prev.copy(schemaJson = merged.json, fragments = prev.fragments ++ renumbered)
    }
    (renumbered.size, m.version)
  }

  /** Every fragment file any branch manifest references (GC roots). */
  private def branchReferencedFiles(fs: FileSystem, root: Path): Set[String] = {
    val bp = branchesPath(root)
    if (!fs.exists(bp)) Set.empty
    else fs.listStatus(bp).toSeq.filter(_.isDirectory).flatMap { d =>
      listVersionsIn(fs, d.getPath)
        .flatMap(v => readManifestIn(fs, d.getPath, v).fragments.map(_.file))
    }.toSet
  }

  /** Group files any branch manifest references (GC roots, the
    * [[branchReferencedFiles]] sibling for the two-level form). */
  private def branchReferencedGroups(fs: FileSystem, root: Path): Set[String] = {
    val bp = branchesPath(root)
    if (!fs.exists(bp)) Set.empty
    else fs.listStatus(bp).toSeq.filter(_.isDirectory).flatMap { d =>
      listVersionsIn(fs, d.getPath).flatMap(v =>
        readManifestIn(fs, d.getPath, v).fragmentGroups.getOrElse(Seq.empty))
    }.toSet
  }

  /** Delete data files that NO manifest (of any retained version)
    * references — crash leftovers from writers that died between staging
    * fragment files and committing the manifest swap (the buffered sink
    * writes data BEFORE publishing, so a lost executor or driver leaves
    * unreferenced parquet behind; at 100 TB those ghosts are real money).
    * Only files older than `graceMs` are eligible: an IN-FLIGHT commit's
    * freshly staged files must survive the race — the same `older_than`
    * contract as Iceberg's remove_orphan_files. Deleting an orphan never
    * changes query results by construction (nothing references it).
    * Returns (files scanned, orphans deleted).
    */
  def removeOrphans(fs: FileSystem, root: Path, graceMs: Long): (Int, Int) = {
    require(graceMs >= 0, "graceMs must be >= 0")
    val manifests = listVersions(fs, root).map(v => readManifest(fs, root, v))
    val referenced = manifests.flatMap(m => m.fragments.map(_.file) ++
        m.changeFiles.getOrElse(Seq.empty).map(_.file)).toSet ++
      branchReferencedFiles(fs, root)
    val dir = dataPath(root)
    val now = System.currentTimeMillis()
    val all = if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty
    var removed = 0
    all.foreach { st =>
      if (st.isFile && !referenced.contains(st.getPath.getName) &&
          now - st.getModificationTime >= graceMs) {
        if (fs.delete(st.getPath, false)) removed += 1
      }
    }
    // group files past grace that no manifest (main or branch)
    // references — the losers of commit races leave these behind
    val refGroups = manifests.flatMap(_.fragmentGroups.getOrElse(Seq.empty)).toSet ++
      branchReferencedGroups(fs, root)
    val gdir = groupsPath(root)
    val gAll = if (fs.exists(gdir)) fs.listStatus(gdir).toSeq else Seq.empty
    gAll.foreach { st =>
      if (st.isFile && !refGroups.contains(st.getPath.getName) &&
          now - st.getModificationTime >= graceMs) {
        if (fs.delete(st.getPath, false)) removed += 1
      }
    }
    (all.size + gAll.size, removed)
  }

  def fileSystem(root: Path, conf: Configuration): FileSystem = root.getFileSystem(conf)
}
