package graft.dv3f

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Keyed, name-based upsert — the Spark equivalent of the reference's
  * `INSERT OR REPLACE INTO <t> BY NAME` (reference:
  * scripts/extract_load.py:233-240). Last-writer-wins on the key columns;
  * incoming columns are matched BY NAME, missing declared columns are
  * NULL-filled, extra columns are dropped.
  *
  * TRANSACTIONAL VISIBILITY. DuckDB gives the reference an atomic
  * INSERT OR REPLACE; plain parquet has no MERGE and no atomic rewrite,
  * so the table is a sequence of immutable SNAPSHOTS with a commit
  * pointer, a miniature of the lakehouse-format protocol:
  *
  *   targetPath/
  *     _v_1_ab12cd34/ ...      immutable data dirs, one per commit
  *                             ATTEMPT — the name carries the commit
  *                             number AND a writer-unique token
  *     _commit_1 _commit_2     commit markers; the HIGHEST one is live,
  *                             its content names the data dir(s)
  *
  *   - OPTIMISTIC CONCURRENCY over a GAPLESS chain: a commit resolves
  *     its base snapshot ONCE and always targets n = base + 1, writes
  *     its data to a dir no other writer can name (version + random
  *     token), then publishes by RENAMING a temp file to `_commit_<n>`
  *     whose CONTENT records that dir. The rename is atomic and fails
  *     if the marker exists, so ANY commit that lands after the base
  *     was read makes the stale writer collide and lose — never derive
  *     n from a directory listing (a stale racer steered to a higher n
  *     would win max() and silently bury the rival's commit). A writer
  *     stalled so long its slot was vacuumed is caught by the publish
  *     pre-check (chain already past n). Losers throw
  *     [[CommitRaceException]]; all four write faces retry internally
  *     against the fresh snapshot (idempotent merge ⇒ convergence),
  *     and a private data dir per attempt means a loser's write can
  *     never clobber the winner's published files (its orphan dir is
  *     vacuumed later);
  *   - readers resolve max(`_commit_*`) once, then only touch the dirs
  *     that marker names: a concurrent commit cannot tear their view —
  *     they keep reading the superseded snapshot (snapshot isolation);
  *   - a crash before the marker rename leaves a dangling `_v_` dir
  *     that no reader resolves and a later vacuum removes: the live
  *     table is never in a half-written state;
  *   - `vacuum` (run on every upsert) keeps the data dirs referenced by
  *     the last [[keepCommits]] markers, so an in-flight reader has a
  *     full commit's grace before its files disappear — same contract
  *     as lakehouse VACUUM, with the same caveat for very slow readers.
  *
  * The `_v_`/`_commit_` prefixes keep the protocol invisible to a naive
  * `spark.read.parquet(targetPath)`: underscore-prefixed paths are
  * hidden from Spark's file listing, so pre-protocol FLAT layouts (data
  * files directly under targetPath) still read correctly and are
  * treated as the version-0 snapshot by the first versioned commit.
  *
  * ONE SKELETON PER LAYOUT. The protocol above is written once per
  * marker layout — `commitWhole` for the unpartitioned `#dir:` marker,
  * `commitPartitions` for the partitioned `pv=dir` marker — and the
  * merge once per face (the keyed upsert's left-anti + union, or
  * [[graft.ops.CdcMerge.applyLatestWins]]). Each public face aligns its
  * batch, picks its merge and calls its layout's skeleton, which runs
  * the whole sequence: rename gate, one base resolution, wrong-layout
  * refusal, flat-root adoption, merge, output sizing, write, publish,
  * vacuum.
  *
  * ONE OUTPUT-SIZING RULE. Both skeletons write the merged frame in
  * ceil(plan bytes / `spark.sql.adaptive.advisoryPartitionSizeInBytes`)
  * partitions ([[sizedByBytes]]), so a small commit writes one file in
  * one task instead of one per base file plus one per batch partition.
  *
  * At 100 TB the unpartitioned rewrite is the scaling hazard;
  * mitigations built in:
  *   - [[upsertByNamePartitioned]] rewrites only the partitions present
  *     in the batch (each commit's dir holds just those; the marker
  *     maps every partition to the dir that last wrote it);
  *   - the anti-join broadcasts the NEW side when it is small (the
  *     common ingest shape: small delta vs huge target), so no shuffle
  *     of the target occurs;
  *   - with a lakehouse table format this whole object is a one-line
  *     MERGE INTO — the API is format-agnostic on purpose.
  */
/** A commit lost its optimistic-concurrency race: a rival published
  * first. Retryable — re-reading the snapshot and re-merging converges
  * (the keyed upsert and the CDC merge are idempotent); all four write
  * faces of [[Upsert]] do so a bounded number of times before
  * surfacing it. Subclasses IllegalStateException so callers
  * that matched the old contract keep working.
  */
final class CommitRaceException(msg: String) extends IllegalStateException(msg)

object Upsert {

  private val VPrefix = "_v_"
  private val CPrefix = "_commit_"
  /** Snapshots kept by vacuum (current + grace for in-flight readers). */
  val keepCommits = 2
  /** A `.commit_tmp_` file younger than this is presumed to belong to a
    * LIVE writer mid-publish and is left alone by vacuum; only stale
    * leftovers from crashed writers are collected.
    */
  private[dv3f] val tempGraceMs: Long = 10 * 60 * 1000L

  /** Marker value for "served from the pre-protocol flat root". */
  private val RootDir = "."

  /** Data-dir name for commit attempt `n`: version + writer-unique
    * token, so two racing writers at the same `n` write DISJOINT dirs
    * and the marker-rename loser cannot corrupt the winner's data.
    */
  private def newDataDirName(n: Long): String =
    s"$VPrefix${n}_${java.util.UUID.randomUUID.toString.replace("-", "").take(8)}"

  /** Commit number embedded in a data-dir name (`_v_5` or `_v_5_ab12`). */
  private def versionOfDir(name: String): Long = {
    val digits = name.drop(VPrefix.length).takeWhile(_.isDigit)
    if (digits.isEmpty) -1L else digits.toLong
  }

  /** Partition values are URL-encoded in marker lines so values
    * containing `=`, newlines, `%` or path-hostile characters survive
    * the line-oriented `pv=dir` format. Encoded markers carry an
    * `#enc:url` header; markers WITHOUT it were written by the legacy
    * raw format and are read verbatim — decoding them instead would
    * throw on a legacy `50%` and silently turn a legacy `a+b` into
    * `a b`. (Compat domain: the two formats that ever persisted a
    * durable table are legacy-raw and header+encoded; a transient
    * in-development revision that encoded without the header existed
    * for one commit and wrote only test temp dirs.)
    */
  private val EncHeader = "#enc:url"
  /** Header of a partitioned marker that maps no partition (a commit
    * deleted every row): the JSON schema a read of the empty table
    * returns. `parseSnapshot` skips it like every `#` line.
    */
  private val SchemaHeader = "#schema:"
  private def encodeValue(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")
  private def decodeValue(v: String): String =
    java.net.URLDecoder.decode(v, "UTF-8")

  /** Align `df` to the declared schema by name: missing → typed NULL,
    * extra dropped, order fixed (the BY NAME half of INSERT OR REPLACE).
    */
  def alignByName(df: DataFrame, table: StagingTable): DataFrame =
    df.select(alignedColumns(df, table): _*)

  private def alignedColumns(df: DataFrame, table: StagingTable): Seq[Column] = {
    val present = df.columns.toSet
    table.schema.fields.map { f =>
      if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq
  }

  private def fsFor(spark: SparkSession, path: String): (FileSystem, Path) =
    (FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration), new Path(path))

  private def commitNumbers(fs: FileSystem, target: Path): Seq[Long] =
    if (!fs.exists(target)) Seq.empty
    else fs.listStatus(target).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(CPrefix)).map(_.drop(CPrefix.length).toLong)

  /** The live commit number, if the path uses the versioned protocol. */
  def currentCommit(fs: FileSystem, target: Path): Option[Long] =
    commitNumbers(fs, target).sorted.lastOption

  private def readMarker(fs: FileSystem, target: Path, n: Long): String = {
    val in = fs.open(new Path(target, s"$CPrefix$n"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Filesystems whose `rename` is verified atomic AND
    * fails-when-destination-exists — the two properties the commit
    * protocol stands on. `file` (local/NFS-posix) and HDFS-family
    * schemes qualify; everything else must opt in explicitly.
    */
  private val AtomicRenameSchemes = Set("file", "hdfs", "viewfs", "hopsfs")

  /** Schemes known to VIOLATE the contract: object-store renames are
    * copy+delete and their destination-existence check is not atomic
    * with the rename, so two racing writers can both "win" and one
    * commit silently vanishes.
    */
  private val ObjectStoreSchemes = Set(
    "s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss",
    "oss", "cos", "cosn", "swift", "adl", "obs")

  /** Escape hatch for HDFS-compatible filesystems not on the allowlist
    * (e.g. Ozone's ofs, which implements atomic rename): set this
    * Hadoop conf key to `true` to assert the deployment's FS honors
    * the contract. It does NOT make an object store safe.
    */
  private[dv3f] val AssumeAtomicRenameKey = "graft.upsert.assumeAtomicRename"

  /** Gate the commit protocol on the FS actually providing its one
    * primitive. Called at every publish: a misdeployment over S3 fails
    * fast with the remediation spelled out instead of silently losing
    * racing commits.
    */
  private[dv3f] def requireAtomicRename(fs: FileSystem): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
    if (AtomicRenameSchemes(scheme)) return
    if (Option(fs.getConf).exists(_.getBoolean(AssumeAtomicRenameKey, false))) {
      if (ObjectStoreSchemes(scheme))
        throw new UnsupportedOperationException(
          s"$AssumeAtomicRenameKey cannot make '$scheme' safe: object-store " +
            "rename is copy+delete, not an atomic fail-if-exists commit " +
            "point. Use a conditional-create primitive (S3 If-None-Match) " +
            "or a lakehouse table format instead of this protocol.")
      return
    }
    val why =
      if (ObjectStoreSchemes(scheme))
        "an object store: rename is copy+delete and its existence check " +
          "is not atomic with it, so racing commits can both 'succeed' " +
          "and one silently vanishes"
      else
        "not on the verified-atomic-rename allowlist " +
          s"(${AtomicRenameSchemes.toSeq.sorted.mkString(", ")})"
    throw new UnsupportedOperationException(
      s"upsert commit protocol refused on filesystem scheme '$scheme': $why. " +
        (if (ObjectStoreSchemes(scheme))
          "Object-store deployments need a conditional-create primitive " +
            "(e.g. S3 If-None-Match puts) or a lakehouse table format."
        else
          s"If this FS implements atomic fail-if-exists rename, set " +
            s"$AssumeAtomicRenameKey=true in the Hadoop conf to assert it."))
  }

  /** Publish commit `n`: write the marker aside, rename into place.
    * The rename is the atomic commit point; it fails if `n` was already
    * committed (a racing writer won), and content is never visible
    * half-written.
    *
    * FILESYSTEM CONTRACT: this relies on rename being atomic and
    * failing when the destination exists — true on HDFS, and on local
    * filesystems through [[renameNoReplace]]'s hard link (their plain
    * rename REPLACES an existing marker), NOT on object stores (S3A
    * rename is copy+delete and its existence check is not atomic with
    * it). [[requireAtomicRename]] enforces the
    * contract at every publish: known object-store schemes fail fast
    * with the remediation (conditional-create puts or a lakehouse
    * format), unknown schemes need the documented opt-in conf.
    */
  private[dv3f] def publish(fs: FileSystem, target: Path, n: Long, content: String): Unit = {
    requireAtomicRename(fs)
    // Pre-check: the chain must still END at n-1. A writer stalled
    // across >= keepCommits rival commits would otherwise find its slot
    // n VACUUMED (marker deleted) — its rename would succeed into the
    // gap and report success for a commit no reader will ever resolve.
    // The check-then-rename window is covered by the rename itself: a
    // rival landing n in between makes the rename fail below.
    currentCommit(fs, target).filter(_ >= n).foreach { live =>
      throw new CommitRaceException(
        s"commit $n at $target lost a race: chain already at $live")
    }
    val tmp = new Path(target, s".commit_tmp_${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (!renameNoReplace(fs, tmp, new Path(target, s"$CPrefix$n"))) {
      fs.delete(tmp, false)
      throw new CommitRaceException(
        s"commit $n at $target lost a race with a concurrent writer")
    }
  }

  /** Names directly under `dir` that Spark's file listing sees: the
    * `_`/`.`-prefixed protocol and bookkeeping entries are hidden.
    */
  private def visibleNames(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))

  /** Rename `src` to `dst`, returning false when `dst` exists, the check
    * atomic with the move. Hadoop's local filesystem renames with
    * rename(2), which silently REPLACES an existing file, so two writers
    * past the publish pre-check could both "win" a commit number; there
    * the move is a hard link (link(2) fails when the name exists), then
    * the temp name is dropped. Other schemes rename: HDFS's fails on an
    * existing destination, and [[requireAtomicRename]] admits no other.
    */
  private[dv3f] def renameNoReplace(fs: FileSystem, src: Path, dst: Path): Boolean =
    if (fs.getUri.getScheme != "file") fs.rename(src, dst)
    else try {
      java.nio.file.Files.createLink(java.nio.file.Paths.get(fs.makeQualified(dst).toUri),
        java.nio.file.Paths.get(fs.makeQualified(src).toUri))
      fs.delete(src, false) // the marker is published: a stray temp is vacuumed later
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }

  private def hasFlatData(fs: FileSystem, target: Path): Boolean =
    visibleNames(fs, target).nonEmpty

  /** Resolve a marker's dir token to a full path. Tokens: `.` = the
    * pre-protocol flat root; a bare number = legacy `_v_<n>` layout
    * (0 = root); anything else = a literal dir name under the root.
    */
  private def dirOf(targetPath: String, token: String): String = {
    val root = targetPath.stripSuffix("/")
    token match {
      case RootDir | "0" => targetPath
      case t if t.forall(_.isDigit) => s"$root/$VPrefix$t"
      case t => s"$root/$t"
    }
  }

  /** Inverse of [[dirOf]] for marker writing: full dir path → token. */
  private def tokenOf(targetPath: String, dir: String): String =
    if (dir == targetPath || dir == targetPath.stripSuffix("/")) RootDir
    else dir.substring(dir.lastIndexOf('/') + 1)

  /** Snapshot map for a versioned path: partition value → data dir
    * (single entry keyed "" when unpartitioned).
    */
  def currentSnapshot(spark: SparkSession, targetPath: String): Option[Map[String, String]] = {
    val (fs, target) = fsFor(spark, targetPath)
    currentCommit(fs, target).map(n =>
      parseSnapshot(readMarker(fs, target, n), targetPath, n))
  }

  /** Parse ONE already-read marker into the snapshot map — marker
    * content is immutable, so everything a caller needs (snapshot map,
    * partition column) comes from a single read of it.
    */
  private def parseSnapshot(content: String, targetPath: String,
      n: Long): Map[String, String] = {
    val lines = content.linesIterator.toSeq
    val decode: String => String =
      if (lines.contains(EncHeader)) decodeValue else identity
    lines.find(_.startsWith("#dir:")) match {
      case Some(d) => // unpartitioned, writer-unique dir
        Map("" -> dirOf(targetPath, d.stripPrefix("#dir:")))
      case None if content.isEmpty => // legacy unpartitioned marker
        Map("" -> dirOf(targetPath, n.toString))
      case None =>
        lines.filter(l => !l.startsWith("#") && l.contains("=")).map { line =>
          val Array(pv, v) = line.split("=", 2)
          decode(pv) -> dirOf(targetPath, v)
        }.toMap
    }
  }

  /** The partition column a partitioned marker `n` declares. */
  private def parsePartitionCol(content: String, targetPath: String, n: Long): String =
    content.linesIterator.find(_.startsWith("#partitionCol:"))
      .map(_.stripPrefix("#partitionCol:")).getOrElse(
        throw new IllegalStateException(
          s"marker $n at $targetPath has no partition column header"))

  /** Read the LIVE snapshot of an upsert-managed table. Resolves the
    * commit pointer once; the returned frame only ever touches that
    * snapshot's immutable files, so it stays consistent under
    * concurrent upserts. Falls back to a plain read for pre-protocol
    * flat layouts.
    */
  def read(spark: SparkSession, targetPath: String): DataFrame =
    readImpl(spark, targetPath, None)

  /** Time travel: read the table AS OF commit `version`. Retention is
    * bounded by vacuum — only the snapshots reachable from the last
    * [[keepCommits]] markers are guaranteed on disk, so this serves
    * "compare against the previous load" (the reference's re-ingest
    * audit shape), not unbounded history. Asking for a vacuumed or
    * never-committed version fails loudly.
    */
  def readVersion(spark: SparkSession, targetPath: String, version: Long): DataFrame =
    readImpl(spark, targetPath, Some(version))

  /** Commit versions currently readable (retained markers, ascending). */
  def versions(spark: SparkSession, targetPath: String): Seq[Long] = {
    val (fs, target) = fsFor(spark, targetPath)
    commitNumbers(fs, target).sorted
  }

  private def readImpl(spark: SparkSession, targetPath: String,
      asOf: Option[Long]): DataFrame = {
    val (fs, target) = fsFor(spark, targetPath)
    // resolve version AND read its marker as one fallible step: an
    // exists-then-read would let a concurrent vacuum turn the
    // documented loud failure into a raw FileNotFoundException
    val resolved: Option[(Long, String)] = asOf match {
      case Some(v) =>
        try Some((v, readMarker(fs, target, v)))
        catch {
          case _: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"version $v at $targetPath is not readable (never committed, " +
                s"or vacuumed — retained: ${versions(spark, targetPath).mkString(",")})")
        }
      case None => currentCommit(fs, target)
        .map(n => (n, readMarker(fs, target, n)))
    }
    resolved match {
      case None => spark.read.parquet(targetPath) // flat/legacy layout
      case Some((n, content)) =>
        // ONE marker read serves both the snapshot map and the
        // partition column — markers are immutable, a second resolve
        // could observe a different commit
        val snap = parseSnapshot(content, targetPath, n)
        if (snap.keySet == Set("")) readUnpartitioned(spark, snap(""))
        else {
          // one branch per DISTINCT commit (bounded by vacuum), each a
          // partition-pruned scan of the partitions that commit still
          // owns. allowMissingColumns: an adopted pre-protocol root (or
          // a snapshot from before a schema evolution) may carry fewer
          // columns than newer commits — those read back as NULL, the
          // same contract alignByName gives the merge path.
          if (snap.isEmpty) emptyTable(spark, content).getOrElse(
            throw new IllegalStateException(
              s"marker at $targetPath maps no partitions — empty or corrupt commit"))
          else {
            val pcol = parsePartitionCol(content, targetPath, n)
            snap.groupBy(_._2).map { case (dir, parts) =>
              scanPartitionAsString(spark, dir, pcol)
                .filter(col(pcol).isin(parts.keys.toSeq: _*))
            }.reduce(_.unionByName(_, allowMissingColumns = true))
          }
        }
    }
  }

  /** The zero-row table a marker's [[SchemaHeader]] line declares; None
    * when the marker has no such line.
    */
  private def emptyTable(spark: SparkSession, content: String): Option[DataFrame] =
    content.linesIterator.find(_.startsWith(SchemaHeader)).map { l =>
      val schema = DataType.fromJson(l.stripPrefix(SchemaHeader)).asInstanceOf[StructType]
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    }

  /** Scan a snapshot dir with the partition column pinned to STRING in
    * a user-supplied schema, so the directory value is taken VERBATIM
    * (`annee=07` stays "07"). Plain inference would type it (int 7) and
    * any later normalization re-renders it ("7"), silently mismatching
    * the marker key — and two commit dirs can infer DIFFERENT types
    * (annee=2019 int, annee=unknown string), which fails the ANSI
    * union. The marker speaks raw strings; so does this scan.
    *
    * The string-pinned schema per dir is CACHED for the JVM: snapshot
    * dirs are immutable (a new commit is a new dir), so the footer/
    * listing pass that inference needs runs once per dir, not once per
    * read — at the 100 TB design point that inference pass is an
    * object-store LIST/HEAD storm worth exactly one occurrence.
    * Unpartitioned writer-unique `_v_` dirs are cached too (keyed by the
    * bare dir, see [[readUnpartitioned]]); each unpartitioned commit
    * seeds its dir's entry with the schema it wrote, so reading a fresh
    * snapshot runs no inference job at all. Vacuumed dirs leave dead
    * entries, bounded by commits seen per JVM.
    */
  private val dirSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Read one unpartitioned snapshot dir. A writer-unique `_v_<n>_<token>`
    * dir never changes once written, so its schema comes from
    * [[dirSchemaCache]] and the read starts no Spark job. The flat
    * pre-protocol root and legacy bare `_v_<n>` dirs (which racing
    * writers of the old protocol could overwrite) can change in place
    * and are inferred on every read.
    */
  private def readUnpartitioned(spark: SparkSession, dir: String): DataFrame =
    if (!isWriterUnique(dir)) spark.read.parquet(dir)
    else spark.read.schema(dirSchemaCache.computeIfAbsent(dir,
      _ => spark.read.parquet(dir).schema)).parquet(dir)

  private def isWriterUnique(dir: String): Boolean = {
    val name = dir.substring(dir.lastIndexOf('/') + 1)
    name.startsWith(VPrefix) &&
      name.drop(VPrefix.length).dropWhile(_.isDigit).startsWith("_")
  }

  private def scanPartitionAsString(spark: SparkSession, dir: String,
      pcol: String): DataFrame = {
    val sch = dirSchemaCache.computeIfAbsent(s"$dir#$pcol", _ => {
      val inferred = spark.read.parquet(dir).schema
      StructType(inferred.fields.map(f =>
        if (f.name == pcol) f.copy(dataType = StringType) else f))
    })
    if (!sch.fieldNames.contains(pcol)) spark.read.parquet(dir)
    else spark.read.schema(sch).parquet(dir)
  }

  // NOTE deliberately NO nextCommit(listing) helper: the commit number
  // is always derived as base+1 from the SAME snapshot resolution the
  // merge read — a gapless chain is the optimistic-concurrency guard.
  // Deriving n from a fresh listing (or from in-flight _v_ dirs, as an
  // earlier revision did) lets a racer that observed a STALE snapshot
  // land on a HIGHER n than the concurrent winner: its marker becomes
  // the max the readers resolve, and the winner's committed rows
  // silently vanish without any rename ever failing. With n = base+1,
  // any commit that lands after the snapshot was read forces the
  // marker rename to collide — the stale writer throws and retries
  // against the new snapshot.

  /** Drop snapshots no longer reachable from the last [[keepCommits]]
    * markers: their data dirs and markers are deleted; dirs referenced
    * by a retained marker survive even if written long ago (a partition
    * untouched for many commits still lives in its original dir).
    * Dangling dirs from crashed or race-losing commits (no marker
    * references them) are removed too, once superseded.
    */
  private def vacuum(fs: FileSystem, target: Path): Unit = {
    val commits = commitNumbers(fs, target).sorted
    if (commits.isEmpty) return
    val keep = commits.takeRight(keepCommits)
    // dir names (tokens) the retained markers still reference
    val root = target.toString
    val referenced: Set[String] = keep.flatMap(n =>
      parseSnapshot(readMarker(fs, target, n), root, n).values.map(tokenOf(root, _))).toSet
    commits.dropRight(keepCommits)
      .foreach(n => fs.delete(new Path(target, s"$CPrefix$n"), false))
    // unreferenced data dirs: superseded snapshots and race-losers'
    // orphans (version < keep.last) go immediately — a dir can only
    // fall below keep.last after its slot was committed by someone
    // else, so its writer is already doomed to lose loudly (the
    // publish pre-check); deleting mid-write at worst fails that
    // writer's job early, never silently. Dirs AT or ABOVE keep.last
    // are either an in-flight writer's (version = live max + 1 under
    // the gapless chain — young files, protected) or an ancient
    // crash/pre-gapless orphan, distinguished by modification-time
    // grace.
    val nowMs = System.currentTimeMillis
    fs.listStatus(target).toSeq
      .filter(_.getPath.getName.startsWith(VPrefix))
      .filter { s =>
        val d = s.getPath.getName
        !referenced(d) && !keep.contains(versionOfDir(d)) &&
          (versionOfDir(d) < keep.last ||
            nowMs - s.getModificationTime > tempGraceMs)
      }
      .foreach(s => fs.delete(s.getPath, true))
    // a writer that crashed between creating its .commit_tmp_ and the
    // rename leaks the temp file — collect the STALE ones only: a
    // concurrent writer mid-publish owns a young temp, and deleting it
    // would fail its rename with a misleading "lost a race" error even
    // though no marker collision exists
    fs.listStatus(target).toSeq
      .filter(s => s.getPath.getName.startsWith(".commit_tmp_") &&
        nowMs - s.getModificationTime > tempGraceMs)
      .foreach(s => fs.delete(s.getPath, false))
  }

  /** How many times an upsert re-reads the snapshot and re-merges
    * after losing a commit race before surfacing the error. N
    * simultaneous writers need up to N attempts for the last-place
    * one (each round crowns exactly one winner), so this bounds the
    * supported burst concurrency — the intended deployment is
    * single-writer-per-table with occasional overlap, not sustained
    * fan-in.
    */
  private val raceRetries = 6

  /** Run `f`, retrying on [[CommitRaceException]]: the loser's correct
    * move is always "re-read the new snapshot and re-merge" (the keyed
    * upsert is idempotent), so every write face converges under
    * contention instead of surfacing every genuine race to the caller.
    */
  private def withRaceRetry[A](f: => A): A = {
    var last: CommitRaceException = null
    var i = 0
    while (i < raceRetries) {
      try return f
      catch { case e: CommitRaceException => last = e; i += 1 }
    }
    throw last
  }

  /** Upsert `incoming` into the versioned table at `targetPath` keyed
    * on `table.primaryKey`. Idempotent: re-running the same batch
    * converges (SURVEY.md §7.4.3); each run is one atomic commit.
    * Losing a concurrent-commit race retries against the fresh
    * snapshot ([[raceRetries]]×) before surfacing.
    */
  def upsertByName(spark: SparkSession, targetPath: String,
      incoming: DataFrame, table: StagingTable): Unit = {
    val aligned = alignByName(incoming, table)
    withRaceRetry(commitWhole(spark, targetPath, table, "upsertByName")(
      upsertMerge(aligned, table.primaryKey)))
  }

  /** Transactional CDC MERGE: apply a change batch (declared columns +
    * `opCol` ∈ {I,U,D} + `seqCol`) to the current snapshot with
    * [[graft.ops.CdcMerge]]'s latest-wins semantics and commit the
    * result as the next version — the DELETE face the plain upsert
    * lacks (takedown / opt-out sweeps), inside the same OCC protocol:
    * gapless base+1 chain, writer-unique data dir, atomic marker
    * publish, losing a race retries against the fresh snapshot, and
    * time travel ([[readVersion]]) still serves the pre-delete
    * snapshots until vacuum ages them out.
    *
    * Scale: identical to upsertByName — the snapshot is never shuffled
    * (the touched-key set broadcasts into a left-anti join); the
    * per-key latest-change window runs over the batch only.
    */
  def mergeCdc(spark: SparkSession, targetPath: String,
      changes: DataFrame, table: StagingTable,
      seqCol: String = "seq", opCol: String = "op"): Unit = {
    val aligned = alignChanges(changes, table, seqCol, opCol, "mergeCdc")
    withRaceRetry(commitWhole(spark, targetPath, table, "mergeCdc")(
      cdcMerge(aligned, table, seqCol, opCol)))
  }

  /** Partitioned upsert — the 100 TB shape. Only the partitions PRESENT
    * IN THE BATCH are read (partition-pruned scan), merged (anti-join
    * on the key) and committed; the marker maps every partition to the
    * data dir that last wrote it, so untouched partitions are never
    * read nor written — upsert cost scales with the batch's partition
    * footprint, not the table size. Readers resolve one marker and see
    * either the whole previous snapshot or the whole new one.
    */
  def upsertByNamePartitioned(spark: SparkSession, targetPath: String,
      incoming: DataFrame, table: StagingTable, partitionCol: String): Unit = {
    val aligned = alignByName(incoming, table)
    withRaceRetry(commitPartitions(spark, targetPath, table,
      "upsertByNamePartitioned", partitionCol, aligned)(
      upsertMerge(aligned, table.primaryKey)))
  }

  /** Partitioned CDC MERGE — [[mergeCdc]]'s 100 TB shape: only the
    * partitions PRESENT IN THE CHANGE BATCH are read (partition-pruned
    * scan), merged with latest-wins I/U/D semantics, and committed;
    * untouched partitions keep their prior data dirs, so a takedown
    * sweep's cost scales with its partition footprint, not the table.
    * A partition whose rows are ALL deleted disappears from the marker
    * map entirely (the partition no longer exists — readers never see
    * an empty husk). Constraint shared with the partitioned upsert: a
    * key's partition value is immutable (a "move" must be modeled as
    * D-in-old + I-in-new, two change rows).
    */
  def mergeCdcPartitioned(spark: SparkSession, targetPath: String,
      changes: DataFrame, table: StagingTable, partitionCol: String,
      seqCol: String = "seq", opCol: String = "op"): Unit = {
    val aligned = alignChanges(changes, table, seqCol, opCol, "mergeCdcPartitioned")
    withRaceRetry(commitPartitions(spark, targetPath, table,
      "mergeCdcPartitioned", partitionCol, aligned)(
      cdcMerge(aligned, table, seqCol, opCol)))
  }

  /** The upsert merge: base rows whose key the batch carries give way
    * to the batch's rows; with no base the batch is the table.
    * broadcast(new side) => no shuffle of the big target.
    */
  private def upsertMerge(batch: DataFrame, key: String)(
      base: Option[DataFrame]): DataFrame =
    base.fold(batch)(_.join(broadcast(batch.select(key)), Seq(key), "left_anti")
      .unionByName(batch))

  /** Align a change batch's payload to the declared schema, carrying
    * `opCol` and `seqCol` through.
    */
  private def alignChanges(changes: DataFrame, table: StagingTable,
      seqCol: String, opCol: String, face: String): DataFrame = {
    val present = changes.columns.toSet
    require(present(opCol) && present(seqCol),
      s"$face: changes must carry '$opCol' and '$seqCol' columns")
    changes.select(alignedColumns(changes, table) ++ Seq(col(opCol), col(seqCol)): _*)
  }

  /** The CDC merge, latest-wins per key; with no base the changes
    * apply to an empty table of the declared schema (I/U rows insert,
    * D rows are no-ops).
    */
  private def cdcMerge(changes: DataFrame, table: StagingTable,
      seqCol: String, opCol: String)(base: Option[DataFrame]): DataFrame =
    graft.ops.CdcMerge.applyLatestWins(
      base.getOrElse(alignByName(changes.limit(0), table)),
      changes, Seq(table.primaryKey), seqCol, opCol)

  /** Refuse a face run against the other layout's snapshot, naming the
    * face that fits it (each partitioned face is its unpartitioned
    * twin's name + `Partitioned`).
    */
  private def wrongLayout(targetPath: String, face: String): Nothing = {
    val (held, fits) =
      if (face.endsWith("Partitioned")) ("UNPARTITIONED", face.stripSuffix("Partitioned"))
      else ("PARTITIONED", s"${face}Partitioned")
    throw new IllegalStateException(
      s"$face cannot commit onto the $held snapshot at $targetPath; use $fits/read on it")
  }

  /** The output-sizing rule of both commit skeletons: `merged` coalesced
    * to ceil(plan bytes / `spark.sql.adaptive.advisoryPartitionSizeInBytes`)
    * partitions. The plan bytes are the statistics of the plan with
    * cached data substituted (a cached batch counts its materialized
    * bytes), which needs no second optimizer pass. When they are
    * unknown (the default size) or would ask for more partitions than
    * an Int holds, `merged` is written as it is; a count above the
    * plan's own partitions leaves them as they are.
    */
  private def sizedByBytes(spark: SparkSession, merged: DataFrame): DataFrame = {
    val conf = spark.sessionState.conf
    val bytes = merged.queryExecution.withCachedData.stats.sizeInBytes
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val parts = ((bytes + advisory - 1) / advisory).max(1)
    if (bytes >= conf.defaultSizeInBytes || !parts.isValidInt) merged
    else merged.coalesce(parts.toInt)
  }

  /** The commit protocol for the UNPARTITIONED layout (`#dir:` marker):
    * resolve the base, `merge` onto it, size the result by its bytes
    * ([[sizedByBytes]]), write it whole to a fresh writer-unique dir as
    * commit base+1, publish, vacuum. The base handed to `merge` is the
    * live snapshot or the adopted flat root, aligned to the declared
    * schema; None for a new table.
    */
  private def commitWhole(spark: SparkSession, targetPath: String,
      table: StagingTable, face: String)(
      merge: Option[DataFrame] => DataFrame): Unit = {
    val (fs, target) = fsFor(spark, targetPath)
    // gate BEFORE any data write: on an unsafe FS the flow must die
    // here, not after shipping a (possibly huge) parquet dir whose
    // publish is doomed (publish re-checks — this is the cheap exit)
    requireAtomicRename(fs)

    // base snapshot and commit number resolve from ONE observation; the
    // published commit is base+1, so a commit landing in between makes
    // the marker rename collide (see the gapless-chain note above)
    val baseCommit = currentCommit(fs, target)
    val base = baseCommit.map(n => readUnpartitioned(spark,
      parseSnapshot(readMarker(fs, target, n), targetPath, n)
        .getOrElse("", wrongLayout(targetPath, face))))
      .orElse(Option.when(hasFlatData(fs, target))(
        spark.read.parquet(targetPath))) // adopt flat layout as v0
    // Align the EXISTING side to the declared schema as well: when the
    // table declaration evolves (the reference's API adds an indicator
    // column some year), rows written under the old schema read back
    // NULL in the new column and dropped columns vanish — the declared
    // schema is the contract, for both sides.
    val merged = sizedByBytes(spark, merge(base.map(alignByName(_, table))))

    val n = baseCommit.getOrElse(0L) + 1
    val dirName = newDataDirName(n)
    val dir = s"${targetPath.stripSuffix("/")}/$dirName"
    merged.write.mode(SaveMode.Overwrite).parquet(dir)
    // seed the dir's schema cache with what was written (parquet reads
    // every field back nullable), so reading this snapshot runs no job
    dirSchemaCache.put(dir,
      StructType(merged.schema.fields.map(_.copy(nullable = true))))
    publish(fs, target, n, s"#dir:$dirName")
    vacuum(fs, target)
  }

  /** Values of the `partitionCol=` dirs directly under `dir`. Dir names
    * carry Hive path-escaping (space → %20 etc.); unescape so the values
    * compare equal to raw batch values.
    */
  private def partitionDirValues(fs: FileSystem, dir: Path,
      partitionCol: String): Seq[String] =
    visibleNames(fs, dir).filter(_.startsWith(s"$partitionCol="))
      .map(n => ExternalCatalogUtils.unescapePathName(n.stripPrefix(s"$partitionCol=")))

  /** The commit protocol for the PARTITIONED layout (`pv=dir` marker):
    * resolve the base, read only the partitions `batch` touches, `merge`
    * onto them, size the result by its bytes ([[sizedByBytes]]), write
    * it partitioned to a fresh writer-unique dir as commit base+1,
    * publish the marker that maps every touched partition to the dir
    * that now holds it, vacuum. The base handed to `merge` is aligned to
    * the declared schema; None when no touched partition exists yet. A
    * flat root is adopted only when it holds nothing but `partitionCol=`
    * dirs. A commit that leaves no partition records the table's read
    * schema in its marker ([[SchemaHeader]]), so the table reads empty.
    */
  private def commitPartitions(spark: SparkSession, targetPath: String,
      table: StagingTable, face: String, partitionCol: String,
      batch: DataFrame)(merge: Option[DataFrame] => DataFrame): Unit = {
    val (fs, target) = fsFor(spark, targetPath)
    requireAtomicRename(fs) // fail before the data write, not after

    // previous snapshot: marker map, or the flat layout's partition
    // dirs adopted as version 0. Base commit, snapshot AND partition
    // column resolve from ONE marker read; the published commit is
    // base+1 (gapless chain).
    val baseCommit = currentCommit(fs, target)
    val prev: Map[String, String] = baseCommit match {
      case Some(n) =>
        val content = readMarker(fs, target, n)
        val snap = parseSnapshot(content, targetPath, n)
        // merging a partitioned batch onto an unpartitioned snapshot
        // would carry its "" key into the new marker and silently drop
        // every pre-existing row whose partition value is absent from
        // this batch
        if (snap.contains("")) wrongLayout(targetPath, face)
        val pc = parsePartitionCol(content, targetPath, n)
        require(pc == partitionCol,
          s"$targetPath is partitioned by '$pc', not '$partitionCol'")
        snap
      case None =>
        // adopting only the `partitionCol=` dirs of a root that holds
        // other data (loose files, another column's dirs) would hide it
        if (visibleNames(fs, target).exists(!_.startsWith(s"$partitionCol=")))
          wrongLayout(targetPath, face)
        partitionDirValues(fs, target, partitionCol).map(_ -> targetPath).toMap
    }

    val touchedRaw = batch.select(partitionCol).distinct().collect()
    // the marker maps partition VALUES to data dirs — a null value has
    // no stable directory name (Hive's __HIVE_DEFAULT_PARTITION__ is a
    // write-side artifact), so reject it loudly instead of NPE-ing or
    // silently mis-routing rows
    require(!touchedRaw.exists(_.isNullAt(0)),
      s"$face: batch contains NULL in partition column " +
        s"'$partitionCol' — partition keys must be non-null")
    val touched = touchedRaw.map(_.get(0).toString).toSet
    // "" is as unroutable as null: partitionBy writes it as the Hive
    // default-partition sentinel (reads back NULL, so the rows turn
    // invisible) and its marker line would parse to the "" key that
    // flags an unpartitioned snapshot
    require(!touched.contains(""),
      s"$face: batch contains empty-string in partition " +
        s"column '$partitionCol' — partition keys must be non-empty")
    if (touched.isEmpty) return // empty batch: nothing to commit

    val base = prev.filter(kv => touched(kv._1))
      .groupBy(_._2).map { case (dir, parts) =>
        // partition-pruned: only the touched partition dirs are read,
        // with the partition value taken VERBATIM as string (see
        // scanPartitionAsString) so it compares against the marker's
        // raw keys; alignByName casts back to the declared schema.
        alignByName(scanPartitionAsString(spark, dir, partitionCol)
          .filter(col(partitionCol).isin(parts.keys.toSeq: _*)), table)
      }.reduceOption(_ unionByName _)
    val merged = sizedByBytes(spark, merge(base))

    val n = baseCommit.getOrElse(0L) + 1
    val dirName = newDataDirName(n)
    merged.write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
      .parquet(s"${targetPath.stripSuffix("/")}/$dirName")
    // untouched partitions keep their dirs; touched ones move to this
    // commit's dir if it wrote them, and vanish if deletes emptied them.
    // `written` comes from listing the new dir, not from a second pass
    // over the merge.
    val written = partitionDirValues(fs, new Path(target, dirName), partitionCol)
    val prevTokens = prev.map { case (pv, dir) => pv -> tokenOf(targetPath, dir) }
    val newMap = (prevTokens -- touched) ++ written.map(_ -> dirName)
    // an emptied table keeps its schema: the one a read of it returns,
    // partition column last as string (see readImpl)
    val emptied = Option.when(newMap.isEmpty)(SchemaHeader + StructType(
      merged.schema.fields.filter(_.name != partitionCol).map(_.copy(nullable = true)) :+
        StructField(partitionCol, StringType)).json)
    val content = (Seq(s"#partitionCol:$partitionCol", EncHeader) ++ emptied ++
      newMap.toSeq.sortBy(_._1).map { case (pv, d) => s"${encodeValue(pv)}=$d" })
      .mkString("\n")
    publish(fs, target, n, content)
    vacuum(fs, target)
  }
}
