package graft.perfbench

/** Read-only view of a store's committed state for the benchmark's
  * counters. `MutableStore` is package-private to graft, so this one
  * object lives in graft's package; it only reads. */
object StoreView {
  /** Number of live tombstone legs a probe anti-joins. */
  def liveTombLegs(dir: String): Int = {
    val st = graft.io.MutableStore.state(dir)
    graft.io.MutableStore.liveTombTagsOf(dir, st).size
  }

  /** Committed state version; each compaction commits a new one. */
  def version(dir: String): Int = graft.io.MutableStore.state(dir).v
}
