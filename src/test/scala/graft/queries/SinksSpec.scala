package graft.queries

import graft.SparkSpec

/** Pins [[Sinks.contentKey]]: the key follows a source file's bytes,
  * not its stat. */
class SinksSpec extends SparkSpec {

  test("contentKey changes when file bytes change, even at equal " +
      "length, and is stable across touches") {
    val dir = graft.SparkSpec.tempDir("graft_sinks_spec")
    val f = dir.resolve("data.bin")
    java.nio.file.Files.write(f, Array[Byte](1, 2, 3, 4))
    val k1 = Sinks.contentKey(dir.toString, "data.bin", "p")
    // same length, different bytes — the (length, mtime) key this
    // replaced could collide here. Bump mtime explicitly: the hash
    // MEMO is keyed on (path, length, mtime), so a same-millisecond
    // same-length rewrite inside one JVM would serve the stale hash
    // (impossible for the read-only driver testdata; this pins the
    // detection path deterministically on any mtime granularity)
    java.nio.file.Files.write(f, Array[Byte](1, 2, 9, 4))
    f.toFile.setLastModified(f.toFile.lastModified() + 2000)
    val k2 = Sinks.contentKey(dir.toString, "data.bin", "p")
    assert(k1 != k2, "byte change at equal length must change the key")
    // touch only (same bytes, new mtime): key stays — no spurious
    // rebuilds
    f.toFile.setLastModified(System.currentTimeMillis() + 5000)
    val k3 = Sinks.contentKey(dir.toString, "data.bin", "p")
    assert(k2 == k3, "mtime-only change must not change the key")
    // extra participates
    assert(Sinks.contentKey(dir.toString, "data.bin", "q") != k3)
  }
}
