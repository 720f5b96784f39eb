package graft.core

/** Size-bounded LRU memo for the session-lifetime model caches (D1's
  * reduced selection, the BPE merge/word tables, the PQ codebooks, the
  * shared bar/pair scratch reads).
  *
  * Each of those caches memoizes a small deterministic artifact keyed
  * by a collision-resistant [[Scratch.planKey]] — correct, but a plain
  * `ConcurrentHashMap` grows unboundedly with distinct input plans in
  * a long-lived session and keeps holding references (DataFrames,
  * driver arrays) after their scratch backing could be dropped. This
  * utility bounds every such cache the same way: access-ordered LRU
  * with a hard entry cap, plus an eviction predicate hook so callers
  * holding session-linked values (e.g. a DataFrame whose SparkSession
  * was stopped) can sweep dead entries on the next touch.
  *
  * Concurrency: the map lock guards only the (cheap) cell bookkeeping;
  * the compute itself — typically a full Spark job — runs OUTSIDE it,
  * on the cell's own initializer. Concurrent callers of the SAME key
  * block on that cell (no duplicate compute, the `computeIfAbsent`
  * guarantee the previous per-site maps gave); callers of DIFFERENT
  * keys run their computes concurrently (which `ConcurrentHashMap`
  * allowed across bins and a single map monitor would have serialized).
  */
final class BoundedMemo[K, V](maxEntries: Int) {
  require(maxEntries > 0, "maxEntries must be positive")

  /** One memo slot; `value` evaluates the compute at most once, on the
    * cell's monitor rather than the map's. `done` flips only after a
    * successful compute (a throwing compute retries on the next touch,
    * like the `computeIfAbsent` it replaces). */
  private final class Cell(compute: () => V) {
    @volatile var done = false
    lazy val value: V = { val v = compute(); done = true; v }
  }

  private val map = new java.util.LinkedHashMap[K, Cell](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Cell]): Boolean =
      this.size() > maxEntries
  }

  def getOrElseUpdate(key: K, compute: => V): V = {
    val cell = map.synchronized {
      val hit = map.get(key)
      if (hit != null) hit
      else {
        val c = new Cell(() => compute)
        map.put(key, c)
        c
      }
    }
    cell.value // outside the map lock — see the class note
  }

  /** Non-computing probe, for call sites whose compute step wants
    * explicit staging (the PQ training loop): probe, train outside,
    * [[put]]. Returns None for an entry whose compute is still in
    * flight — the prober is free to race it (deterministic artifacts,
    * the loser's put is idempotent). */
  def get(key: K): Option[V] = {
    val cell = map.synchronized(Option(map.get(key)))
    cell.filter(_.done).map(_.value)
  }

  def put(key: K, value: V): Unit = map.synchronized {
    val c = new Cell(() => value)
    c.value // resolve eagerly (trivial) so done = true
    map.put(key, c)
    ()
  }

  /** Drop every completed entry matching the predicate (dead-session
    * sweep). In-flight entries are skipped — they are by definition
    * being computed right now, not stale. */
  def evictIf(p: (K, V) => Boolean): Unit = map.synchronized {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.done && p(e.getKey, e.getValue.value)) it.remove()
    }
  }

  def size: Int = map.synchronized(map.size())

  private[graft] def keysInAccessOrder: Seq[K] = map.synchronized {
    val out = scala.collection.mutable.ArrayBuffer[K]()
    map.keySet().forEach(k => out += k)
    out.toSeq
  }
}
