package graft.io

/** Maintenance-rewrite event counter + log line (VERDICT r19 item 1).
  *
  * The r19 q81 arbitration stalled on not knowing whether a slow rep
  * had run MORE folds than the protocol floor expects (the fixture
  * fires exactly one per rep) or just hit ambient contention. Every
  * fold rewrite now records itself here: a one-line stderr note (cheap
  * — folds are cadence events, not per-row work) and a JVM-global
  * counter profiling harnesses read per rep (PROFILE_r19.md,
  * PROFILE_r20.md and PROFILE_r22.md report the delta next to each
  * rep's time).
  */
object FoldEvents {

  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val byKind =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Total fold rewrites since JVM start (base merges + run folds). */
  def count: Long = counter.get()

  /** Rewrites of one kind ("base-merge" | "run-fold") since JVM start —
    * the q83 gate's assertion surface: a row claiming to exercise the
    * run-level path must move THIS counter, not just the total. */
  def countOf(kind: String): Long =
    Option(byKind.get(kind)).map(_.get()).getOrElse(0L)

  def record(table: String, kind: String, partitions: Int): Unit = {
    counter.incrementAndGet()
    byKind.computeIfAbsent(kind,
      _ => new java.util.concurrent.atomic.AtomicLong(0L)).incrementAndGet()
    System.err.println(
      s"[graft.fold] table=$table kind=$kind partitions=$partitions")
  }
}
