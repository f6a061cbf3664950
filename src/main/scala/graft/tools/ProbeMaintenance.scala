package graft.tools

import org.apache.spark.sql.functions._

/** Measure MAINTENANCE cost per cadence window vs index size at fixed
  * delta (VERDICT r19 item 2's measurement): [[graft.io.Bucketing]]'s
  * legacy full fold rewrites the whole table — O(index) per window, a
  * per-batch amortized cost that grows with index size while deltas
  * don't — and the tiered run-level fold bounds the window cost by
  * (run + delta). This tool puts both on the same axes: for each
  * corpus size, build a shingle-df base (untimed), then repeatedly
  * land a FIXED-size wave of fresh partials (untimed) and time ONE
  * cadence fold — once with the forced base merge (the r19 behavior),
  * once with the forced run-level fold (the r20 path). The fitted
  * log-log slope of median fold seconds vs index rows is the verdict:
  * ~1 for the full fold (linear in index size), ~0 for the run fold.
  *
  * Usage: runMain graft.tools.ProbeMaintenance [outPath] [reps]
  * Corpus dirs via SPARK_GRAFT_PROBE_SFDIRS (ProbeScaling's contract;
  * append the Amplify sf0.8 anchor for a real high-mass point).
  */
object ProbeMaintenance {

  def main(args: Array[String]): Unit = {
    import Dev.{median, num}
    val out = args.lift(0).getOrElse("MAINT_SCALING_DATA.json")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val spark = Dev.session(32, logLevel = "ERROR")
    val sfs = Dev.envList("SPARK_GRAFT_PROBE_SFDIRS", Dev.DefaultSfDirs)
    def docs(dir: String) =
      spark.read.parquet(s"$dir/documents.parquet")
    // the FIXED delta: the sf0.01 catalog-row slice; each landed wave
    // re-keys it into a fresh disjoint id space so batches stay
    // doc-disjoint (the additive-df contract) while the wave SIZE
    // never varies across index scales
    val deltaBase = docs("/root/testdata/sf0.01")
      .filter(col("doc_id") % 5 === 0).localCheckpoint()
    val cadence = 4

    var wave = 0
    def landWaves(tbl: String, startBatch: Long): Long = {
      var b = startBatch
      (0 until cadence).foreach { _ =>
        wave += 1
        val fresh = deltaBase.withColumn("doc_id",
          col("doc_id") + lit(wave.toLong * 10000000L))
        graft.ops.Dedup.appendShingleDfPartial(spark, fresh, tbl, b)
        b += 1
      }
      b
    }

    val results = sfs.map { sf =>
      val corpus = docs(sf).filter(col("doc_id") % 5 =!= 0)
      // two tables so the two policies never contaminate each other
      val perMode = Seq("full", "run").map { mode =>
        val tbl = s"pm_${mode}_idx"
        graft.io.Bucketing.dropTable(spark, tbl)
        graft.ops.Dedup.appendShingleDfPartial(spark, corpus, tbl, 0L)
        graft.io.Bucketing.tieredFold(spark, tbl) // base (untimed)
        val indexRows = spark.table(tbl).count()
        var nextBatch = 1L
        val times = (1 to reps).map { _ =>
          nextBatch = landWaves(tbl, nextBatch) // untimed appends
          val t0 = System.nanoTime()
          if (mode == "full") graft.io.Bucketing.foldBucketed(spark, tbl)
          else graft.io.Bucketing.tieredFold(spark, tbl,
            mergeFraction = 1e9) // force the run level
          (System.nanoTime() - t0) / 1e9
        }
        graft.io.Bucketing.dropTable(spark, tbl)
        println(s"MAINT $mode $sf index_rows=$indexRows " +
          s"median=${num(median(times))} " +
          times.map(num).mkString("[", ",", "]"))
        (mode, indexRows, median(times), times)
      }
      (sf, perMode)
    }

    val byMode = Seq("full", "run").map { mode =>
      val pts = results.map { case (sf, per) =>
        val p = per.find(_._1 == mode).get
        (sf, p._2, p._3, p._4)
      }
      val slope = Dev.logLogSlope(pts.map(p => (math.max(1L, p._2).toDouble, p._3)))
      println(s"MAINT $mode slope=${num(slope)}")
      val ptsJson = pts.map { case (sf, n, med, ts) =>
        s"""{"sf":"$sf","index_rows":$n,"median_sec":${num(med)},"reps_sec":${ts.map(num).mkString("[", ",", "]")}}"""
      }.mkString("[", ",", "]")
      s"""{"mode":"$mode","slope":${num(slope)},"points":$ptsJson}"""
    }
    val json = s"""{"reps":$reps,"cadence":$cadence,"delta":"fixed sf0.01 slice per wave","modes":${byMode.mkString("[", ",", "]")}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    println(s"MAINT_SCALING written to $out")
    spark.stop()
  }
}
