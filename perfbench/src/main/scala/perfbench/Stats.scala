package perfbench

/** Small numeric and process helpers shared by the workloads. */
object Stats {

  /** Linear-interpolated percentile (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** One field of /proc/self/status, in kB (VmHWM, VmRSS, ...). */
  def procStatusKb(field: String): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  /** Bytes this process has caused to be written to storage
    * (`write_bytes` of /proc/self/io), counted at page-dirtying time. */
  def diskWriteBytes(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().find(_.startsWith("write_bytes:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  /** Total size of regular files under `path` (0 when absent). */
  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }

  def deleteRecursively(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => deleteRecursively(c.getPath))
    f.delete()
    ()
  }

  /** JSON number: finite values as written, anything else as 0. */
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Heap occupancy right after every garbage collection, as the collectors
  * report it; the largest since `install` is `peakBytes`. With a fixed,
  * pre-touched heap this, not `VmHWM`, is the heap figure that moves with
  * what the program keeps live. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, math.max(_, _))
          }, null, null)
      case _ =>
    }
  }

  def peakBytes: Long = peak.get
}
