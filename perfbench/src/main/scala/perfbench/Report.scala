package perfbench

/** Turns a segment's outcome (and, traced, its spans and listener totals)
  * into the result line. The metric names and units here are the ones
  * BENCHMARK.json lists; BenchSpec keeps the two in step. */
object Report {

  /** Common per-layer set C: self time, calls, and the Spark work of the
    * jobs the layer's calls submitted. */
  val Common: Seq[(String, String)] = Seq(
    "busy_s" -> "s", "calls" -> "count", "jobs" -> "count", "tasks" -> "count",
    "empty_task_ratio" -> "ratio", "task_wait_s" -> "s", "task_cpu_s" -> "s",
    "shuffle_bytes" -> "B")

  private def c(layer: String, extra: (String, String)*): Seq[(String, String)] =
    (Common ++ extra).map { case (m, u) => s"$layer.$m" -> u }
  private def only(layer: String, ms: (String, String)*): Seq[(String, String)] =
    ms.map { case (m, u) => s"$layer.$m" -> u }

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_rows_s" -> "rows/s", "batch_p50_s" -> "s",
    "batch_tail_s" -> "s", "peak_rss_mb" -> "MB", "stored_bytes_per_input_byte" -> "ratio")

  val PerLayer: Seq[(String, String)] =
    only("ingest", "triage_s" -> "s", "files_rejected" -> "count", "scan_s" -> "s",
      "rows_in" -> "rows") ++
    only("io.landing", "busy_s" -> "s", "calls" -> "count") ++
    only("io.ledger", "busy_s" -> "s", "calls" -> "count", "jobs" -> "count") ++
    only("enrich", "broadcast_build_s" -> "s", "rows_out" -> "rows") ++
    only("marts", "agg_build_s" -> "s", "shuffle_bytes" -> "B", "spill_bytes" -> "B",
      "rows_out" -> "rows") ++
    c("io.sinks", "files_written" -> "count", "bytes_written" -> "B", "commit_s" -> "s",
      "disk_write_bytes" -> "B") ++
    Seq("ops.dedup", "ops.similarity", "ops.text").flatMap(c(_, "spill_bytes" -> "B")) ++
    only("sql.create", "busy_s" -> "s", "jobs" -> "count") ++
    Seq("sql.append", "sql.compact", "sql.retract", "sql.purge")
      .flatMap(c(_, "disk_write_bytes" -> "B")) ++
    c("sql.probe", "disk_write_bytes" -> "B", "p50_s" -> "s", "tail_s" -> "s") ++
    only("io.bucketing", "metastore_calls" -> "count", "data_files" -> "count",
      "fold_events" -> "count") ++
    c("streaming", "add_batch_s" -> "s", "query_planning_s" -> "s", "wal_commit_s" -> "s",
      "commit_offsets_s" -> "s", "latest_offset_s" -> "s", "trigger_overhead_s" -> "s",
      "batches" -> "count", "state_rows" -> "rows", "disk_write_bytes" -> "B") ++
    only("untagged", "jobs" -> "count", "tasks" -> "count") ++
    only("trace", "overhead_s" -> "s", "overhead_ratio" -> "ratio")

  /** Percentile reported as `batch_tail_s` (and `sql.probe.tail_s`): a run
    * has 2 to 6 units, too few for a higher one (SPEC.md). */
  val TailPercentile = 75

  private def line(correct: Boolean, attempted: Long, failed: Long,
                   metrics: Seq[(String, String, Double)]): String = {
    val ms = metrics.map { case (n, u, v) =>
      s"${Stats.str(n)}: {${"\"value\""}: ${Stats.num(v)}, ${"\"unit\""}: ${Stats.str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** Peak resident memory the program's work needs: the native peak
    * (`VmHWM` minus the fixed, pre-touched heap) plus the largest heap
    * occupancy right after a collection. */
  def peakRssMb: Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    (Stats.procStatusKb("VmHWM") * 1024.0 - heap + HeapWatch.peakBytes) / (1024.0 * 1024.0)
  }

  def endToEndValues(o: Outcome, setupS: Double): Map[String, Double] = {
    val busy = o.busy
    Map(
      "setup_s" -> setupS,
      "throughput_rows_s" -> (if (busy > 0) o.rows / busy else 0.0),
      "batch_p50_s" -> Stats.median(o.units),
      "batch_tail_s" -> Stats.percentile(o.units, TailPercentile),
      "peak_rss_mb" -> peakRssMb,
      "stored_bytes_per_input_byte" -> o.storedBytes.toDouble / o.inputBytes)
  }

  def endToEnd(wl: Workload, o: Outcome, setupS: Double): String = {
    val v = endToEndValues(o, setupS)
    System.err.println(s"perfbench: ${wl.name} units=${o.units.size} rows=${o.rows} " +
      s"measured=${"%.2f".format(o.busy)}s unit latencies " + o.units.map("%.3f".format(_)).mkString(" ") + " s")
    line(o.failed == 0, o.attempted, o.failed, EndToEnd.map { case (n, u) => (n, u, v(n)) })
  }

  /** Per-layer figures of the traced segment. */
  def perLayerValues(wl: Workload, plain: Outcome, traced: Outcome,
                     tracer: Tracer): (Map[String, Double], Long) = {
    val jl = tracer.jobs.get
    val spanTotals = jl.spanTotals
    val self = tracer.selfNs
    val byLayer = tracer.spans.groupBy(_.layer)
    val known = tracer.spans.map(_.id).toSet + Trace.Untagged
    // completeness: every task the listener saw in the segment belongs to a
    // recorded span or to `untagged`
    val attributed = spanTotals.filter { case (id, _) => known(id) }.values.map(_.tasks).sum
    val leak = jl.run.tasks - attributed
    val v = scala.collection.mutable.Map[String, Double]()
    for ((layer, spans) <- byLayer) {
      val t = new TaskTotals
      spans.foreach(s => spanTotals.get(s.id).foreach(t.add))
      v(s"$layer.busy_s") = spans.map(s => self(s.id)).sum / 1e9
      v(s"$layer.calls") = spans.size.toDouble
      v(s"$layer.jobs") = t.jobs.toDouble
      v(s"$layer.tasks") = t.tasks.toDouble
      v(s"$layer.empty_task_ratio") = if (t.tasks == 0) 0.0 else t.emptyTasks.toDouble / t.tasks
      v(s"$layer.task_wait_s") = t.waitMs / 1e3
      v(s"$layer.task_cpu_s") = t.cpuNs / 1e9
      v(s"$layer.shuffle_bytes") = t.shuffleBytes.toDouble
      v(s"$layer.spill_bytes") = t.spillBytes.toDouble
      v(s"$layer.disk_write_bytes") = spans.map(s => s.diskEnd - s.diskStart).sum.toDouble
    }
    spanTotals.get(Trace.Untagged).foreach { t =>
      v("untagged.jobs") = t.jobs.toDouble
      v("untagged.tasks") = t.tasks.toDouble
    }
    // lazy layers run inside the sink writes: read them off those plans
    val execSpan = jl.execToSpan
    val spanById = tracer.spans.map(s => s.id -> s).toMap
    def plansOf(p: Span => Boolean): PlanStats = tracer.plans.get.plans.collect {
      case (exec, ps) if execSpan.get(exec).flatMap(spanById.get).exists(p) => ps
    }.foldLeft(PlanStats())(_ + _)
    val sinkPlans = plansOf(_.layer == "io.sinks")
    v("ingest.scan_s") = plansOf(s => s.layer == "bench" && s.op == SalesEtl.ScanProbe).csvScanMs / 1e3
    v("ingest.rows_in") = sinkPlans.csvRows.toDouble
    v("enrich.broadcast_build_s") = sinkPlans.broadcastMs / 1e3
    v("enrich.rows_out") = sinkPlans.joinRowsOut.toDouble
    v("marts.agg_build_s") = sinkPlans.aggMs / 1e3
    v("marts.shuffle_bytes") = sinkPlans.aggShuffleBytes.toDouble
    v("marts.spill_bytes") = sinkPlans.spillBytes.toDouble
    v("marts.rows_out") = sinkPlans.rowsWritten.toDouble
    v("io.sinks.files_written") = sinkPlans.filesWritten.toDouble
    v("io.sinks.bytes_written") = sinkPlans.bytesWritten.toDouble
    v("io.sinks.commit_s") = sinkPlans.commitMs / 1e3
    v("ingest.triage_s") = byLayer.getOrElse("ingest", Nil)
      .filter(_.op == "triage").map(_.durNs).sum / 1e9
    val units = byLayer.getOrElse("workload", Nil)
    v("io.bucketing.metastore_calls") = units.map(s => s.metastoreEnd - s.metastoreStart).sum.toDouble
    v("io.bucketing.fold_events") = units.map(s => s.foldEnd - s.foldStart).sum.toDouble
    // overhead on identical inputs: the traced units against the untraced
    // segment's, unit for unit
    val n = math.min(traced.units.size, plain.units.size)
    val tp = plain.units.take(n).sum
    val tt = traced.units.take(n).sum
    v("trace.overhead_s") = (tt - tp) / n
    v("trace.overhead_ratio") = if (tp > 0) tt / tp - 1 else 0.0
    v ++= traced.layerExtras
    System.err.println(s"perfbench: ${wl.name} traced units=${traced.units.size} " +
      s"untraced units=${plain.units.size} tracing overhead " +
      f"${v("trace.overhead_s")}%.4f s/unit (${v("trace.overhead_ratio") * 100}%.1f%%), " +
      s"segment tasks=${jl.run.tasks} unattributed=$leak untagged jobs=${v.getOrElse("untagged.jobs", 0.0)}")
    (v.toMap, leak)
  }

  def perLayer(wl: Workload, plain: Outcome, traced: Outcome, tracer: Tracer): String = {
    val (v, leak) = perLayerValues(wl, plain, traced, tracer)
    val failed = traced.failed + (if (leak != 0) 1 else 0)
    if (leak != 0) System.err.println(s"perfbench: CHECK FAILED: $leak tasks not attributed to a span")
    line(failed == 0, traced.attempted, failed,
      PerLayer.map { case (n, u) => (n, u, v.getOrElse(n, 0.0)) })
  }

  /** All spans of the traced segment, with self time and Spark totals, as
    * one JSON file. */
  def writeTrace(file: String, tracer: Tracer, workload: String, seed: Long): Unit = {
    val self = tracer.selfNs
    val totals = tracer.jobs.map(_.spanTotals).getOrElse(Map.empty)
    val t0 = tracer.spans.map(_.startNs).minOption.getOrElse(0L)
    val runId = s"$workload-seed$seed-${ProcessHandle.current().pid()}"
    val rows = tracer.spans.sortBy(_.startNs).map { s =>
      val t = totals.getOrElse(s.id, new TaskTotals)
      Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Stats.str(s"${s.layer}.${s.op}"), "layer" -> Stats.str(s.layer),
        "run_id" -> Stats.str(runId), "workload" -> Stats.str(workload),
        "round" -> s.round.toString,
        "start_us" -> ((s.startNs - t0) / 1000).toString,
        "end_us" -> ((s.endNs - t0) / 1000).toString,
        "self_us" -> (self(s.id) / 1000).toString,
        "disk_write_bytes" -> (s.diskEnd - s.diskStart).toString,
        "metastore_calls" -> (s.metastoreEnd - s.metastoreStart).toString,
        "fold_events" -> (s.foldEnd - s.foldStart).toString,
        "jobs" -> t.jobs.toString, "tasks" -> t.tasks.toString,
        "empty_tasks" -> t.emptyTasks.toString, "task_wait_ms" -> t.waitMs.toString,
        "task_cpu_ns" -> t.cpuNs.toString, "shuffle_bytes" -> t.shuffleBytes.toString,
        "spill_bytes" -> t.spillBytes.toString
      ).map { case (k, x) => s"${Stats.str(k)}: $x" }.mkString("{", ", ", "}")
    }
    new java.io.File(file).getParentFile.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(file),
      rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
