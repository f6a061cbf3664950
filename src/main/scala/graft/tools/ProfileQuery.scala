package graft.tools

/** Time a single catalog query in isolation (dev utility):
  * runMain graft.tools.ProfileQuery <sfDir> <name> [reps] */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Dev.session(32)
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      // match Bench: fresh scratch per rep, so stateful queries run COLD
      // instead of resuming their checkpoint as an exactly-once no-op
      graft.io.TempPaths.bumpEpoch()
      val t0 = System.nanoTime()
      val n = fn(spark, dir).queryExecution.toRdd.count()
      println(f"PROFILE $name rep$i ${(System.nanoTime() - t0) / 1e9}%8.3f s rows=$n")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
