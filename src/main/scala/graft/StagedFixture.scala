package graft

/** Per-JVM memo of fixture-pure work — staging directories (`dir`)
  * and small derived values (`value`): `key` names the work as a pure
  * function of the fixture — include every parameter that changes the
  * result — and the build runs once per JVM; a staged dir lives until
  * JVM exit (shutdown-hook delete). Production pipelines pay
  * layout/staging cost once, not per query run; re-deriving it per
  * bench rep both billed that cost to every rep and churned enough
  * temp I/O and cleaner backlog to spike NEIGHBORING queries'
  * worst-rep times (the r14 bench's mig first-rep signature: med
  * ~1 s, max ~13 s on pure-compute queries sharing the family with
  * per-rep staging writers).
  *
  * Concurrent first callers of one key may both run the build
  * (TrieMap.getOrElseUpdate evaluates it outside any lock; the first
  * insert wins and a losing dir is orphaned until the shutdown hook),
  * so a build must be idempotent, which pure fixture functions are by
  * definition. Builds may nest (a staging that needs a memoized value).
  */
object StagedFixture {
  private val memo = scala.collection.concurrent.TrieMap.empty[String, Any]

  /** The value memoized under `key`, computed on first use. Keys share
    * one namespace with [[dir]]'s, so each tag names one kind of value.
    */
  def value[T](key: String)(build: => T): T =
    memo.getOrElseUpdate(key, build).asInstanceOf[T]

  /** The staged directory for `key`, building it on first use. */
  def dir(key: String, prefix: String)(build: String => Unit): String =
    value(key) {
      val st = java.nio.file.Files.createTempDirectory(prefix)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(st.toFile): Unit))
      build(st.toString)
      st.toString
    }

  /** Memo key for a staging that is a pure function of fixture `dir`:
    * `tag:dir@digest`, where the digest covers every regular file's
    * relative path, size, and mtime under `dir`. A path-only key goes
    * stale if the fixture is regenerated mid-JVM (same path, new
    * bytes) — the digest makes that impossible: new bytes → new key →
    * fresh staging. The walk is a directory listing plus one stat per
    * file (fixtures are dozens of parquet files), so recomputing per
    * call costs microseconds, far below any staging it guards.
    */
  def key(tag: String, dir: String): String =
    s"$tag:$dir@${contentStamp(dir)}"

  /** 12-hex SHA-256 prefix over the sorted (relPath, size, mtime,
    * head/tail bytes) tuples of regular files under `dir`; also usable
    * as a collision-free identifier suffix (unlike String.hashCode,
    * whose 32 bits birthday-collide across staged fixtures — a
    * collision there silently repoints shared catalog names at the
    * wrong data). The head/tail slices (64 B each; for parquet the
    * tail covers the variable compressed footer) make the stamp strict
    * against in-place regeneration that lands identical sizes inside
    * one mtime granule — (path, size, mtime) alone is not.
    */
  def contentStamp(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    def slice(p: java.nio.file.Path, fromEnd: Boolean): String =
      try {
        val ch = java.nio.file.Files.newByteChannel(p)
        try {
          val n = ch.size()
          val want = math.min(64L, n).toInt
          if (fromEnd) ch.position(n - want)
          val buf = java.nio.ByteBuffer.allocate(want)
          while (buf.hasRemaining && ch.read(buf) > 0) {}
          java.util.Base64.getEncoder.encodeToString(buf.array())
        } finally ch.close()
      } catch { case _: java.io.IOException => "?" }
    val walk = java.nio.file.Files.walk(root)
    val lines: Seq[String] =
      try walk.iterator().asScala
        .filter((p: java.nio.file.Path) =>
          java.nio.file.Files.isRegularFile(p))
        .map { (p: java.nio.file.Path) =>
          val rel = root.relativize(p).toString
          s"$rel ${java.nio.file.Files.size(p)} " +
            s"${java.nio.file.Files.getLastModifiedTime(p).toMillis} " +
            s"${slice(p, fromEnd = false)} ${slice(p, fromEnd = true)}"
        }
        .toSeq.sorted
      finally walk.close() // a walk abandoned mid-iteration leaks dir handles
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().take(6).map("%02x".format(_)).mkString
  }
}
