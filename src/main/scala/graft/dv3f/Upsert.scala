package graft.dv3f

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

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
  *     [[CommitRaceException]]; both upsert faces retry internally
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
  * (the keyed upsert is idempotent); [[Upsert.upsertByName]] and
  * [[Upsert.upsertByNamePartitioned]] do so a bounded number of times
  * before surfacing it. Subclasses IllegalStateException so callers
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
  private def encodeValue(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")
  private def decodeValue(v: String): String =
    java.net.URLDecoder.decode(v, "UTF-8")

  /** Align `df` to the declared schema by name: missing → typed NULL,
    * extra dropped, order fixed (the BY NAME half of INSERT OR REPLACE).
    */
  def alignByName(df: DataFrame, table: StagingTable): DataFrame = {
    val present = df.columns.toSet
    df.select(table.schema.fields.map { f =>
      if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
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
    * failing when the destination exists — true on HDFS and local
    * filesystems (verified: rename-onto-existing returns false here),
    * NOT on object stores (S3A rename is copy+delete and its existence
    * check is not atomic with it). [[requireAtomicRename]] enforces the
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
    if (!fs.rename(tmp, new Path(target, s"$CPrefix$n"))) {
      fs.delete(tmp, false)
      throw new CommitRaceException(
        s"commit $n at $target lost a race with a concurrent writer")
    }
  }

  private def hasFlatData(fs: FileSystem, target: Path): Boolean =
    fs.exists(target) && fs.listStatus(target).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }

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

  private def parsePartitionCol(content: String): Option[String] =
    content.linesIterator.find(_.startsWith("#partitionCol:"))
      .map(_.stripPrefix("#partitionCol:"))

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
          if (snap.isEmpty) throw new IllegalStateException(
            s"marker at $targetPath maps no partitions — empty or corrupt commit")
          val pcol = parsePartitionCol(content).getOrElse(
            throw new IllegalStateException(
              s"marker $n at $targetPath has no partition column header"))
          snap.groupBy(_._2).map { case (dir, parts) =>
            scanPartitionAsString(spark, dir, pcol)
              .filter(col(pcol).isin(parts.keys.toSeq: _*))
          }.reduce(_.unionByName(_, allowMissingColumns = true))
        }
    }
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

  /** Dir names (tokens) a marker's snapshot still references. */
  private def referencedDirNames(fs: FileSystem, target: Path, n: Long): Set[String] = {
    val content = readMarker(fs, target, n)
    val lines = content.linesIterator.toSeq
    lines.find(_.startsWith("#dir:")) match {
      case Some(d) => Set(d.stripPrefix("#dir:"))
      case None if content.isEmpty => Set(s"$VPrefix$n") // legacy unpartitioned
      case None =>
        lines.filter(l => !l.startsWith("#") && l.contains("=")).map { line =>
          line.split("=", 2)(1) match {
            case RootDir | "0" => RootDir
            case t if t.forall(_.isDigit) => s"$VPrefix$t"
            case t => t
          }
        }.toSet
    }
  }

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
    val referenced: Set[String] =
      keep.flatMap(n => referencedDirNames(fs, target, n)).toSet
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
    * upsert is idempotent), so both upsert faces converge under
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
      incoming: DataFrame, table: StagingTable): Unit =
    withRaceRetry(upsertByNameOnce(spark, targetPath, incoming, table))

  private def upsertByNameOnce(spark: SparkSession, targetPath: String,
      incoming: DataFrame, table: StagingTable): Unit = {
    val aligned = alignByName(incoming, table)
    val key = table.primaryKey
    val (fs, target) = fsFor(spark, targetPath)
    // gate BEFORE any data write: on an unsafe FS the flow must die
    // here, not after shipping a (possibly huge) parquet dir whose
    // publish is doomed (publish re-checks — this is the cheap exit)
    requireAtomicRename(fs)

    // base snapshot and commit number resolve from ONE observation; the
    // published commit is base+1, so a commit landing in between makes
    // the marker rename collide (see the gapless-chain note above)
    val baseCommit = currentCommit(fs, target)
    val existing = readBase(spark, fs, target, targetPath, baseCommit,
      "use upsertByNamePartitioned/read on it")
    val merged = existing match {
      case None => aligned
      case Some(e) =>
        // Align the EXISTING side to the declared schema as well: when
        // the table declaration evolves (the reference's API adds an
        // indicator column some year), rows written under the old
        // schema read back NULL in the new column and dropped columns
        // vanish — the declared schema is the contract, for both sides.
        // broadcast(new side) => no shuffle of the big target.
        alignByName(e, table)
          .join(broadcast(aligned.select(key)), Seq(key), "left_anti")
          .unionByName(aligned)
    }
    commitUnpartitioned(fs, target, targetPath, baseCommit, merged)
  }

  /** The base snapshot an unpartitioned commit merges onto: the live
    * commit's dir, the flat pre-protocol layout adopted as version 0,
    * or nothing for a new table. A partitioned snapshot is refused with
    * `partitionedHint`.
    */
  private def readBase(spark: SparkSession, fs: FileSystem, target: Path,
      targetPath: String, baseCommit: Option[Long],
      partitionedHint: String): Option[DataFrame] =
    baseCommit.map(n =>
      parseSnapshot(readMarker(fs, target, n), targetPath, n)) match {
      case Some(snap) => Some(readUnpartitioned(spark, snap.getOrElse("",
        throw new IllegalStateException(s"$targetPath was committed by the " +
          s"PARTITIONED upsert; $partitionedHint"))))
      case None if hasFlatData(fs, target) =>
        Some(spark.read.parquet(targetPath)) // adopt flat layout as v0
      case None => None
    }

  /** Write `merged` as commit base+1 to a fresh writer-unique dir, seed
    * that dir's [[dirSchemaCache]] entry with the written schema
    * (parquet reads every field back nullable), publish, vacuum.
    */
  private def commitUnpartitioned(fs: FileSystem, target: Path,
      targetPath: String, baseCommit: Option[Long], merged: DataFrame): Unit = {
    val n = baseCommit.getOrElse(0L) + 1
    val dirName = newDataDirName(n)
    val dir = s"${targetPath.stripSuffix("/")}/$dirName"
    merged.write.mode(SaveMode.Overwrite).parquet(dir)
    dirSchemaCache.put(dir,
      StructType(merged.schema.fields.map(_.copy(nullable = true))))
    publish(fs, target, n, s"#dir:$dirName")
    vacuum(fs, target)
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
      seqCol: String = "seq", opCol: String = "op"): Unit =
    withRaceRetry(mergeCdcOnce(spark, targetPath, changes, table, seqCol, opCol))

  private def mergeCdcOnce(spark: SparkSession, targetPath: String,
      changes: DataFrame, table: StagingTable,
      seqCol: String, opCol: String): Unit = {
    // align the payload to the declared schema but carry op/seq through
    val present = changes.columns.toSet
    require(present(opCol) && present(seqCol),
      s"mergeCdc: changes must carry '$opCol' and '$seqCol' columns")
    val alignedChanges = changes.select(
      (table.schema.fields.map { f =>
        if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } ++ Seq(col(opCol), col(seqCol))).toIndexedSeq: _*)
    val (fs, target) = fsFor(spark, targetPath)
    requireAtomicRename(fs) // fail before the data write, not after

    val baseCommit = currentCommit(fs, target)
    val existing = readBase(spark, fs, target, targetPath, baseCommit,
      "mergeCdc supports unpartitioned tables")
    val base = existing match {
      case Some(e) => alignByName(e, table)
      case None => // empty base with the declared schema: I/U rows insert
        alignByName(changes.limit(0), table)
    }
    val merged = graft.ops.CdcMerge.applyLatestWins(
      base, alignedChanges, Seq(table.primaryKey), seqCol, opCol)
    commitUnpartitioned(fs, target, targetPath, baseCommit, merged)
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
      seqCol: String = "seq", opCol: String = "op"): Unit =
    withRaceRetry(mergeCdcPartitionedOnce(
      spark, targetPath, changes, table, partitionCol, seqCol, opCol))

  private def mergeCdcPartitionedOnce(spark: SparkSession, targetPath: String,
      changes: DataFrame, table: StagingTable, partitionCol: String,
      seqCol: String, opCol: String): Unit = {
    val present = changes.columns.toSet
    require(present(opCol) && present(seqCol),
      s"mergeCdcPartitioned: changes must carry '$opCol' and '$seqCol' columns")
    val alignedChanges = changes.select(
      (table.schema.fields.map { f =>
        if (present(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } ++ Seq(col(opCol), col(seqCol))).toIndexedSeq: _*)
    val key = table.primaryKey
    val (fs, target) = fsFor(spark, targetPath)
    requireAtomicRename(fs) // fail before the data write, not after

    val baseCommit = currentCommit(fs, target)
    val contentOpt = baseCommit.map(n => (n, readMarker(fs, target, n)))
    val snapOpt = contentOpt.map { case (n, c) => parseSnapshot(c, targetPath, n) }
    contentOpt.foreach { case (_, content) =>
      val snap = snapOpt.get
      if (snap.contains("")) throw new IllegalStateException(
        s"$targetPath was committed by the UNPARTITIONED upsert; " +
          "use mergeCdc/read on it")
      val pc = parsePartitionCol(content).getOrElse(
        throw new IllegalStateException(
          s"marker at $targetPath has no partition column header"))
      require(pc == partitionCol,
        s"$targetPath is partitioned by '$pc', not '$partitionCol'")
    }
    val prev: Map[String, String] = snapOpt.getOrElse(Map.empty)

    val affectedRaw = alignedChanges.select(partitionCol).distinct().collect()
    require(!affectedRaw.exists(_.isNullAt(0)),
      s"mergeCdcPartitioned: batch contains NULL in partition column " +
        s"'$partitionCol' — every change row must carry its partition")
    val affected = affectedRaw.map(_.get(0).toString).toSeq
    require(!affected.contains(""),
      s"mergeCdcPartitioned: batch contains empty-string in partition " +
        s"column '$partitionCol'")
    if (affected.isEmpty) return

    val existingAffected = prev.filter(kv => affected.contains(kv._1))
      .groupBy(_._2).map { case (dir, parts) =>
        alignByName(scanPartitionAsString(spark, dir, partitionCol)
          .filter(col(partitionCol).isin(parts.keys.toSeq: _*)), table)
      }.reduceOption(_ unionByName _)

    val base = existingAffected.getOrElse(alignByName(changes.limit(0), table))
    val merged = graft.ops.CdcMerge.applyLatestWins(
      base, alignedChanges, Seq(key), seqCol, opCol)
    val n = baseCommit.getOrElse(0L) + 1
    val dirName = newDataDirName(n)
    merged.write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
      .parquet(s"${targetPath.stripSuffix("/")}/$dirName")

    // deletes can empty a partition: only partitions with surviving
    // rows stay in the map — a fully-deleted partition vanishes
    val surviving = merged.select(partitionCol).distinct().collect()
      .map(_.get(0).toString).toSet
    val prevTokens = prev.map { case (pv, dir) => pv -> tokenOf(targetPath, dir) }
    val newMap = (prevTokens -- affected) ++
      affected.filter(surviving).map(_ -> dirName)
    val content = s"#partitionCol:$partitionCol\n$EncHeader\n" +
      newMap.toSeq.sortBy(_._1)
        .map { case (pv, d) => s"${encodeValue(pv)}=$d" }.mkString("\n")
    publish(fs, target, n, content)
    vacuum(fs, target)
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
      incoming: DataFrame, table: StagingTable, partitionCol: String): Unit =
    withRaceRetry(
      upsertByNamePartitionedOnce(spark, targetPath, incoming, table, partitionCol))

  private def upsertByNamePartitionedOnce(spark: SparkSession, targetPath: String,
      incoming: DataFrame, table: StagingTable, partitionCol: String): Unit = {
    val aligned = alignByName(incoming, table)
    val key = table.primaryKey
    val (fs, target) = fsFor(spark, targetPath)
    requireAtomicRename(fs) // fail before the data write, not after

    // previous snapshot: marker map, or the flat layout's partition
    // dirs adopted as version 0. Base commit, snapshot AND partition
    // column resolve from ONE marker read; the published commit is
    // base+1 (gapless chain).
    val baseCommit = currentCommit(fs, target)
    val contentOpt = baseCommit.map(n => (n, readMarker(fs, target, n)))
    val snapOpt = contentOpt.map { case (n, c) => parseSnapshot(c, targetPath, n) }
    contentOpt.foreach { case (_, content) =>
      // mirror of the unpartitioned guard: merging a partitioned batch
      // onto an unpartitioned snapshot would carry its "" key into the
      // new marker and silently drop every pre-existing row whose
      // partition value is absent from this batch
      val snap = snapOpt.get
      if (snap.contains("")) throw new IllegalStateException(
        s"$targetPath was committed by the UNPARTITIONED upsert; " +
          "use upsertByName/read on it")
      val pc = parsePartitionCol(content).getOrElse(
        throw new IllegalStateException(
          s"marker at $targetPath has no partition column header"))
      require(pc == partitionCol,
        s"$targetPath is partitioned by '$pc', not '$partitionCol'")
    }
    val prev: Map[String, String] = snapOpt.getOrElse {
      if (!fs.exists(target)) Map.empty
      else fs.listStatus(target).toSeq.map(_.getPath.getName)
        .filter(_.startsWith(s"$partitionCol="))
        // dir names carry Hive path-escaping (space → %20 etc.);
        // unescape so adopted values compare equal to raw batch values
        .map(n => ExternalCatalogUtils.unescapePathName(
          n.stripPrefix(s"$partitionCol=")) -> targetPath).toMap
    }
    val affectedRaw = aligned.select(partitionCol).distinct().collect()
    // the marker maps partition VALUES to data dirs — a null value has
    // no stable directory name (Hive's __HIVE_DEFAULT_PARTITION__ is a
    // write-side artifact), so reject it loudly instead of NPE-ing or
    // silently mis-routing rows
    require(!affectedRaw.exists(_.isNullAt(0)),
      s"upsertByNamePartitioned: batch contains NULL in partition column " +
        s"'$partitionCol' — partition keys must be non-null")
    val affected = affectedRaw.map(_.get(0).toString).toSeq
    // "" is as unroutable as null: partitionBy writes it as the Hive
    // default-partition sentinel (reads back NULL, so the rows turn
    // invisible) and its marker line would parse to the "" key that
    // flags an unpartitioned snapshot
    require(!affected.contains(""),
      s"upsertByNamePartitioned: batch contains empty-string in partition " +
        s"column '$partitionCol' — partition keys must be non-empty")
    if (affected.isEmpty) return // empty batch: nothing to commit

    val existingAffected = prev.filter(kv => affected.contains(kv._1))
      .groupBy(_._2).map { case (dir, parts) =>
        // partition-pruned: only the affected partition dirs are read,
        // with the partition value taken VERBATIM as string (see
        // scanPartitionAsString) so it compares against the marker's
        // raw keys; alignByName casts back to the declared schema.
        alignByName(scanPartitionAsString(spark, dir, partitionCol)
          .filter(col(partitionCol).isin(parts.keys.toSeq: _*)), table)
      }.reduceOption(_ unionByName _)

    val merged = existingAffected match {
      case None => aligned
      case Some(e) =>
        e.join(broadcast(aligned.select(key)), Seq(key), "left_anti")
          .unionByName(aligned)
    }
    val n = baseCommit.getOrElse(0L) + 1
    val dirName = newDataDirName(n)
    merged.write.mode(SaveMode.Overwrite).partitionBy(partitionCol)
      .parquet(s"${targetPath.stripSuffix("/")}/$dirName")

    // prior owners keep their dirs, affected partitions move to this one
    val prevTokens = prev.map { case (pv, dir) => pv -> tokenOf(targetPath, dir) }
    val newMap = prevTokens ++ affected.map(_ -> dirName)
    val content = s"#partitionCol:$partitionCol\n$EncHeader\n" +
      newMap.toSeq.sortBy(_._1)
        .map { case (pv, d) => s"${encodeValue(pv)}=$d" }.mkString("\n")
    publish(fs, target, n, content)
    vacuum(fs, target)
  }
}
