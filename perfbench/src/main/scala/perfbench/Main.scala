package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: set up, run one workload, check it, print one
  * JSON result line. See SPEC.md for the metrics. */
object Main {

  /** Set-up is repeated this many times and its median reported. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), m.getOrElse("out", need("work")))
  }

  def cores: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors()))

  /** The session of `graft.Bench`, plus the SQL extensions. */
  def session(work: String): SparkSession = {
    val n = cores
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session's first use: a function and a statement from the SQL
    * extensions, and a parquet write read back. */
  def smoke(spark: SparkSession, dir: String): Unit = {
    val v = spark.sql("SELECT vec_dot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d").head().getDouble(0)
    require(v == 11.0, s"vec_dot smoke test returned $v")
    spark.range(100).write.mode("overwrite").parquet(dir)
    require(spark.read.parquet(dir).count() == 100, "parquet smoke test lost rows")
    // the graft parser answers for a missing table; Spark's would not parse it
    require(scala.util.Try(spark.sql("COMPACT INDEX perfbench_absent")).failed.toOption
      .exists(e => String.valueOf(e.getMessage).contains("nothing to compact")),
      "the graft statement parser is not installed")
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: Exception => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val wl = Workload.byName(args.workload).getOrElse {
      System.err.println(s"perfbench: unknown workload '${args.workload}'; expected one of " +
        Workload.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val code = try { run(wl, args); 0 } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  def run(wl: Workload, args: Args): Unit = {
    HeapWatch.install()
    // set-up: the session with extensions and its smoke test, repeated; the
    // last session is the one measured
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(args.work)
      smoke(spark, s"${args.work}/smoke$i")
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = Stats.median(setups)
    System.err.println("perfbench: set-up times " + setups.map("%.3f".format(_)).mkString(" ") + " s")
    val result =
      if (!args.trace) {
        val o = wl.run(Ctx(spark, s"${args.work}/run", args.seed, args.seconds,
          new Tracer(spark, enabled = false, "untraced")))
        Report.endToEnd(wl, o, setupS)
      } else {
        // a shorter untraced segment first takes the JVM's first-use costs
        // (class loading, generated code), which would otherwise land on
        // the traced segment; a second one after it, on the same inputs, is
        // the baseline for the tracing overhead. The traced segment runs
        // the units of an untraced run, so it issues the same calls. After
        // the first segment the JVM is warm: the later ones run at most one
        // untimed unit, for their own fresh state (tables, checkpoints).
        val warm = Some(math.min(1, wl.warmupUnits))
        def plain(tag: String, warmup: Option[Int]) = wl.run(Ctx(spark, s"${args.work}/$tag",
          args.seed, args.seconds / 2.0, new Tracer(spark, enabled = false, "untraced"),
          warmup = warmup))
        plain("warmup", None)
        val tracer = new Tracer(spark, enabled = true, "traced")
        val traced = wl.run(Ctx(spark, s"${args.work}/traced", args.seed, args.seconds, tracer,
          warmup = warm))
        val after = plain("after", warm)
        val file = s"${args.out}/trace-${wl.name}-seed${args.seed}.json"
        Report.writeTrace(file, tracer, wl.name, args.seed)
        System.err.println(s"perfbench: spans written to $file")
        Report.perLayer(wl, after, traced, tracer)
      }
    spark.stop()
    println(result)
  }
}
