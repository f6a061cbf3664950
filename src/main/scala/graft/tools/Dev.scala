package graft.tools

import org.apache.spark.sql.SparkSession

/** What the dev tools share: one local session and the arithmetic the
  * sweep tools (Scaling, ProbeScaling, ProbeMaintenance) report with. */
private[tools] object Dev {

  /** The three testdata scale factors every sweep defaults to. */
  val DefaultSfDirs =
    "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1"

  /** Local session on `cpus` cores (shuffle partitions = cores), with
    * the fixtures' timestamp settings and no UI. The warehouse is a
    * pid-tagged temp dir removed at exit, so table-backed rows never
    * litter the working directory with a ./spark-warehouse. */
  def session(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", graft.io.TempPaths.newWarehouseDir())
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    graft.io.TempPaths.cleanupOnExit(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    spark
  }

  /** Comma-separated list from the environment, blanks dropped. */
  def envList(key: String, default: String = ""): Seq[String] =
    sys.env.getOrElse(key, default).split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The element at n/2 of the sorted sample. */
  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Least-squares slope of log(y) against log(x); x, y > 0. */
  def logLogSlope(pts: Seq[(Double, Double)]): Double = {
    val xs = pts.map(p => math.log(p._1))
    val ys = pts.map(p => math.log(p._2))
    val (mx, my) = (xs.sum / xs.size, ys.sum / ys.size)
    xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
      math.max(1e-12, xs.map(x => (x - mx) * (x - mx)).sum)
  }

  /** JSON number with four decimals, locale-independent. */
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  /** JSON string literal. */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
