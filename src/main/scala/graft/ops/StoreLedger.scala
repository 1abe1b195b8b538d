package graft.ops

/** Session-wide ledger of side-channel store builds, written only by
  * [[StoreGuard]].
  *
  * Two jobs, both born of Bench's parallel prepare pool (round 13):
  *
  *  1. '''Per-store locking.''' Concurrent prepares may reach the SAME
  *     shared store from two threads; without a lock both see "not
  *     built" and race the overwrite. Locks are per store key, so
  *     distinct stores still build fully in parallel.
  *  2. '''The build log.''' Every [[StoreGuard]] build records how many
  *     times its block actually RAN this JVM (a re-entry that finds
  *     the store complete records 0) and which data tables it vouches
  *     for (none for a directory store, keyed by its path). Bench
  *     asserts from it that no store is built twice per session and
  *     attributes warehouse bytes per prepare by listing ONLY that
  *     prepare's tables — replacing the whole-warehouse
  *     `getContentSummary` walks that were 2 unattributed tree scans
  *     per prepare (~18 s of the r12 setup gap).
  */
object StoreLedger {

  /** One ledger row: build-block executions this JVM, the data tables
    * the store key vouches for, and the owner label (the prepare name
    * under Bench's pool; null outside it) of the first caller. */
  final case class BuildRecord(runs: Int, tables: Seq[String],
                               owner: String)

  /** Owner label for ledger rows recorded on this thread — Bench's
    * prepare pool sets it to the prepare name around each prepare fn
    * (builds run synchronously on the calling thread). */
  val currentOwner = new ThreadLocal[String]

  /** store key -> [[BuildRecord]] for every guarded build this JVM. */
  val buildLog =
    new java.util.concurrent.ConcurrentHashMap[String, BuildRecord]()

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The JVM-wide lock object for `key` (created on first use). */
  def lockFor(key: String): Object =
    locks.computeIfAbsent(key, _ => new Object)

  /** Record one guarded-build outcome: `ran` = the block executed (vs.
    * found complete); `tables` = the data tables the key vouches for. */
  def record(key: String, ran: Boolean, tables: Seq[String]): Unit =
    buildLog.merge(key,
      BuildRecord(if (ran) 1 else 0, tables, currentOwner.get),
      (old, nw) =>
        BuildRecord(old.runs + nw.runs, old.tables,
          if (old.owner != null) old.owner else nw.owner))

  /** Store keys whose build block ran more than once this session —
    * the "no store built twice" assertion surface. */
  def doubleBuilds(): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    buildLog.forEach((k, v) => if (v.runs > 1) { out += k; () })
    out.toSeq.sorted
  }
}
