package graft.ops

/** The one per-JVM store of what is derived from a data dir: staged
  * paths (exports, partitioned tables, indexes) and memoized values
  * (tokenizer and index fits, table schemas). The first use pays the
  * write or the compute; later ones — e.g. bench iterations 2..n —
  * reuse it. Paths embed the JVM pid so two sessions on one host never
  * race on a shared tmp dir, and the JVM deletes its own at exit
  * (`dropStaged`). A dir regenerated within one JVM still keeps every
  * superseded generation until then.
  *
  * One staleness rule for both: every entry is keyed by its source
  * dir's `fingerprint`, the absolute path plus a content-version token
  * (file count, total bytes, max mtime of the tree). Data regenerated
  * under a live JVM (the bench driver does this between rounds, and
  * has drifted column types doing it) changes the token, so the next
  * access restages or recomputes from the fresh bytes — a staged index
  * and the fit it was built with always share a generation. The token
  * is a metadata walk, not a content hash: a rewrite that keeps size
  * AND mtime would evade it, which no real writer does.
  */
object StageOnce {
  val pid: Long = ProcessHandle.current().pid()

  /** (file count, total bytes, max mtime-millis) over the tree under
    * `dir` — O(#files) stat calls, no data read.
    */
  private def versionToken(root: java.io.File): (Long, Long, Long) = {
    var n = 0L; var bytes = 0L; var mtime = 0L
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(walk)
      else { n += 1; bytes += f.length(); mtime = math.max(mtime, f.lastModified()) }
    walk(root)
    (n, bytes, mtime)
  }

  /** Path fingerprint is an md5 of the ABSOLUTE path + version token
    * (not hashCode): 128 collision-free-in-practice bits, so two
    * distinct data dirs — or two generations of the same dir — can
    * never silently share staged data or a memoized value.
    */
  private def fingerprint(dir: String): String = {
    val f = new java.io.File(dir)
    val (n, bytes, mtime) = versionToken(f)
    val key = s"${f.getAbsolutePath}|$n|$bytes|$mtime"
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
  }

  def tmp(name: String, dir: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${name}_${pid}_${fingerprint(dir)}").getAbsolutePath

  private val staged = scala.collection.mutable.Set.empty[String]
  def apply(key: String)(write: => Unit): Unit = synchronized {
    if (!staged.contains(key)) { write; staged += key }
  }

  /** Deletes this JVM's `tmp` dirs under `root` (other pids' stay) and
    * forgets them, so a later use restages. Runs at JVM exit.
    */
  def dropStaged(root: java.io.File = new java.io.File(sys.props("java.io.tmpdir"))): Unit =
    synchronized {
      val mine = s"graft_.+_${pid}_[0-9a-f]{16}".r
      def delete(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delete)
        f.delete()
      }
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => mine.matches(f.getName))
        .foreach { f => delete(f); staged -= f.getAbsolutePath }
    }
  sys.addShutdownHook(dropStaged())

  /** Computed at most once, by its first reader, under its own lock —
    * not inside `computeIfAbsent`, so a compute may look up other
    * entries (a fit loads tables whose schemas live here too). A
    * compute that throws leaves it empty for the next reader.
    */
  private final class Entry(compute: () => Any) { lazy val value: Any = compute() }
  private final case class Key(kind: String, version: String, params: Any)
  private val memos = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** The value `compute` derives from the data under `dir` and from
    * `params` (compared structurally), reused while the fingerprint holds.
    */
  def memo[A](kind: String, dir: String, params: Any = ())(compute: => A): A =
    memos.computeIfAbsent(Key(kind, fingerprint(dir), params),
      _ => new Entry(() => compute)).value.asInstanceOf[A]

  /** Drops every memoized value of `kind`: scale runs time a cold fit. */
  def forget(kind: String): Unit = memos.keySet.removeIf(_.kind == kind)
}
