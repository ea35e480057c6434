package pkel.text

/** JVM-wide bounded memo around a pure `String => T` kernel.
  *
  * Transcript corpora repeat mention surfaces massively (millions of rows
  * over thousands of distinct surfaces), so the regex-chain kernels
  * ([[PkTokenizer]], the NIL patterns) need to run once per distinct surface,
  * not once per row. Round 5 scoped the memo per task (`@transient lazy` map
  * per deserialized closure); round 6 widened it to the JVM: a 128-partition
  * stage over an 11k-mention corpus gave every task ~90 rows — all misses in
  * a task-local map — so the ~1-3 ms regex chain ran once per row per stage
  * after all (measured ~200 ms of pure tokenizer cpu per 90-row task in the
  * battery's scoring stages). One process-wide ConcurrentHashMap per kernel
  * id amortizes across tasks AND stages; on a cluster that is exactly the
  * per-executor scope. Reads are lock-free; values are immutable results.
  * Bounded so a worst-case all-unique corpus keeps memory flat and degrades
  * to the unmemoized cost (same discipline as PairScorer.MemoCap).
  *
  * [[Memo.clearAll]] drops every table — the bench calls it via
  * `Queries.releaseCaches` between its warm-up pass and the timed battery so
  * warm-up can never pre-fill kernel results for the timed runs.
  */
final class Memo[T](f: String => T, cap: Int = Memo.DefaultCap,
    id: String = null) extends (String => T) with Serializable {
  // Unnamed memos get a UNIQUE id per construction (assigned driver-side,
  // serialized with the closure): keying by lambda class name alone would
  // silently SHARE a table between two instances built at the same call
  // site with different captured state — each other's cached results.
  private val tableId =
    if (id != null) id
    else f.getClass.getName + "#" + Memo.instanceSeq.incrementAndGet()
  @transient private lazy val table = Memo.tableFor(tableId)
  def apply(s: String): T = {
    if (s == null) return f(null) // CHM rejects null keys; old memo tolerated null inputs
    val memo = table.map
    val hit = memo.get(s)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = f(s)
      // null results stay unmemoized (treated as a miss every time); the
      // kernels wrapped here never return null. Capacity check via a plain
      // atomic counter, NOT ConcurrentHashMap.size(): size() sums striped
      // CounterCells and, called per miss from 32 threads over a corpus
      // with more distinct surfaces than the cap (typos at production
      // scale), it measurably inflated every memo-using stage (~13% e2e).
      // The cap is approximate by design: concurrent misses that all read the
      // counter below the cap each insert, so the map can overshoot it by up
      // to the number of threads; and a clearAll racing an insert can leave
      // the counter a few above the map size (the table then stops filling
      // a few entries early). Neither grows without bound.
      if (v != null && table.n.get < cap &&
          memo.putIfAbsent(s, v.asInstanceOf[AnyRef]) == null)
        table.n.incrementAndGet()
      v
    }
  }
}

object Memo {
  /** ~200k surfaces × (pointer + boxed value) keeps the per-kernel map well
    * under typical executor headroom. */
  val DefaultCap = 200000

  private final class Table {
    val map = new java.util.concurrent.ConcurrentHashMap[String, AnyRef](1024)
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
  }

  private val tables = new java.util.concurrent.ConcurrentHashMap[String, Table]()

  private val instanceSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def tableFor(id: String): Table =
    tables.computeIfAbsent(id, _ => new Table)

  /** Empty every memo table (driver-side; executors in local mode share the
    * JVM). Measurement hygiene between untimed warm-up and timed runs.
    * Tables are EMPTIED in place, not dropped from the registry: live Memo
    * instances cache their Table reference in a lazy val, so dropping the
    * registry entry would orphan those tables (still serving stale results,
    * invisible to a later clear). */
  def clearAll(): Unit = tables.values.forEach { t => t.map.clear(); t.n.set(0) }

  def apply[T](f: String => T, cap: Int = DefaultCap): String => T = new Memo(f, cap)

  /** Named variant: a stable id keyed table (anonymous-class names are stable
    * within a JVM too, but an explicit id documents intent). */
  def named[T](id: String)(f: String => T): String => T = new Memo(f, DefaultCap, id)
}
