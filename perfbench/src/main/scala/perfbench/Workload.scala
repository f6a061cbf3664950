package perfbench

import org.apache.spark.sql.SparkSession

/** What one measured segment of a workload hands back. Unit latencies are
  * the closed loop's per-unit times; `busy` is all measured time (the units
  * plus a one-off build where the workload has one); `rows` are input rows
  * the program completed in that time. */
final case class Outcome(units: Seq[Double], busy: Double, rows: Long, attempted: Long,
                         failed: Long, inputBytes: Long, storedBytes: Long,
                         /** Per-layer figures only the workload can read
                           * (progress reports, catalog counters, ...). */
                         layerExtras: Map[String, Double] = Map.empty) {
  require(attempted >= 1, "a segment attempts at least one call")
}

/** Everything a workload's segment runs with. `dir` is the segment's own
  * empty scratch directory; `seconds` sets how many units it runs;
  * `scale` shrinks every generated input (the benchmark's tests run tiny);
  * `warmup`, when set, replaces the workload's own count of untimed
  * leading units (a segment that follows another in the same JVM needs
  * fewer). */
final case class Ctx(spark: SparkSession, dir: String, seed: Long,
                     seconds: Double, tracer: Tracer, scale: Double = 1.0,
                     warmup: Option[Int] = None) {
  def scaled(n: Int): Int = math.max(1, math.round(n * scale).toInt)

  /** Counts program calls and the ones that threw or failed a check. */
  var attempted = 0L
  var failed = 0L

  /** Runs one program call inside a span, counting it. */
  def call[T](layer: String, op: String)(body: => T): T = {
    attempted += 1
    try tracer.span(layer, op)(body)
    catch { case e: Throwable => failed += 1; throw e }
  }

  /** Benchmark-side Spark work inside the traced segment (reading an
    * output back to check it), kept apart from the program's layers. */
  def bench[T](op: String)(body: => T): T = tracer.span("bench", op)(body)

  /** Records a correctness check; a failure is logged and counted. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: CHECK FAILED: $what")
    }
    ok
  }
}

trait Workload {
  def name: String
  /** Leading units run (and checked) but not timed or traced, so first-use
    * costs (class loading, generated code, native libraries) stay out of the
    * measurement. */
  def warmupUnits: Int
  /** Units that make up one whole pass over the workload's unit kinds
    * (`index_maintenance` alternates two kinds of round). */
  def cycle: Int = 1
  /** Nominal latency of one unit on the reference machine (SPEC.md). */
  def nominalUnitSeconds: Double
  /** Units a segment of `seconds` runs: a fixed function of `seconds`,
    * never of how fast the program is, so every run of every commit
    * measures the same sequence of units. Whole cycles only. */
  final def unitsFor(seconds: Double): Int =
    cycle * math.max(1, math.round(seconds / (nominalUnitSeconds * cycle)).toInt)
  /** Generate inputs (untimed), run the closed loop for
    * `unitsFor(ctx.seconds)` units, then check every output. */
  def run(ctx: Ctx): Outcome
}

object Workload {
  val all: Seq[Workload] = Seq(SalesEtl, IndexMaintenance)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  final case class Loop(units: Seq[Double], busy: Double, rows: Long)

  /** The closed loop: one client issues unit `i` only after unit `i - 1`
    * returned. The workload's warm-up units run untimed and untraced; then
    * `first` (timed, not a unit) runs once, and then `unitsFor(seconds)`
    * units. `prepare(i)` runs untimed before each unit and `after(i)`
    * (bookkeeping, checks) untimed after it. `first` and `unit(i)` return
    * the input rows they completed. */
  def closedLoop(ctx: Ctx, wl: Workload, prepare: Int => Unit, first: () => Long = () => 0L,
                 after: Int => Unit = _ => ())(unit: Int => Long): Loop = {
    val warmup = ctx.warmup.getOrElse(wl.warmupUnits)
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    var i = 0
    while (i < warmup) { prepare(i); unit(i); after(i); i += 1 }
    var rows = 0L
    var busy = 0.0
    ctx.tracer.begin()
    try {
      val t0 = System.nanoTime()
      rows += ctx.tracer.span("workload", "first")(first())
      busy = (System.nanoTime() - t0) / 1e9
      while (lat.size < wl.unitsFor(ctx.seconds)) {
        ctx.bench("prepare")(prepare(i))
        ctx.tracer.round = i
        val t = System.nanoTime()
        rows += ctx.tracer.span("workload", "unit")(unit(i))
        val dt = (System.nanoTime() - t) / 1e9
        lat += dt
        busy += dt
        ctx.bench("after")(after(i))
        i += 1
      }
    } finally ctx.tracer.end()
    Loop(lat.toSeq, busy, rows)
  }
}
