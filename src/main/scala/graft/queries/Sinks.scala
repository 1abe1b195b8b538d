package graft.queries

/** Content keys for side-channel sinks and stores (catalog tables and
  * directories reused across runs; [[graft.ops.StoreGuard]] builds
  * them once). */
object Sinks {

  /** Content key for idempotent side-channel sinks: an MD5 over the
    * source file's actual BYTES (plus `extra`), so a regeneration that
    * happens to preserve byte length within mtime granularity still
    * changes the key — (length, mtime) keys cannot promise that. Fold
    * anything that changes the written CONTENT (operator parameters
    * included) into `extra`, or a stale sink silently verifies.
    * Memoized per (path, length, mtime) so repeated calls in a session
    * don't re-read the file; a changed file re-hashes. */
  def contentKey(d: String, file: String, extra: String = ""): String = {
    val src = new java.io.File(s"$d/$file")
    val memoKey = (src.getAbsolutePath, src.length, src.lastModified)
    val bytesHex = hashMemo.computeIfAbsent(memoKey, _ => hashFile(src))
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d|$bytesHex|$extra".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  private val hashMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), String]()

  /** The memoized content hash of a local file — the same bytes-MD5
    * (and the same per-JVM (path, length, mtime) re-hash policy)
    * backing [[contentKey]], exposed so other content-keyed memos
    * (Tables' events schema memo) share one discipline instead of
    * inventing weaker stat keys. */
  private[graft] def fileContentHash(f: java.io.File): String =
    hashMemo.computeIfAbsent(
      (f.getAbsolutePath, f.length, f.lastModified), _ => hashFile(f))

  private def hashFile(f: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    if (f.isFile) {
      val in = new java.io.FileInputStream(f)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    } else md.update(s"${f.length}|${f.lastModified}".getBytes("UTF-8"))
    md.digest().map(b => f"$b%02x").mkString
  }
}
