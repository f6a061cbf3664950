package perfbench

import graft.streaming.{EventsStream, UpsertSink}
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The streaming half of `sales_etl`: generated events (the
  * `events.parquet` schema) land as successive slices under `dir`; after
  * each slice, one `Trigger.AvailableNow` run of the watermarked hourly
  * aggregate on one persistent checkpoint, then one run of the keyed
  * upsert. Each slice carries rows a little late (inside the 30-minute
  * watermark), rows far too late (dropped), and duplicate rows. */
object EventSlices {

  val EventsPerSlice = 2000
  val SliceMinutes = 30
  val Users = 400
  val Types: Seq[String] = Seq("view", "click", "purchase", "error")
  val Epoch: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  final case class Event(id: Long, tsMs: Long, user: Long, kind: String, value: BigDecimal)

  /** Slice `s`: event time advances by SliceMinutes per slice. 5 % of rows
    * are 10 minutes behind the slice start (kept), 2 % are four hours behind
    * (past the watermark, dropped), and 3 % repeat an earlier row of the
    * slice (duplicates, counted by the aggregate, harmless to the upsert). */
  def slice(seed: Long, s: Int, n: Int = EventsPerSlice): Seq[Event] = {
    val r = new scala.util.Random(seed * 104729L + s)
    val start = Epoch + s.toLong * SliceMinutes * 60000L
    val out = mutable.ArrayBuffer[Event]()
    for (i <- 0 until n) {
      val x = r.nextDouble()
      if (x < 0.03 && out.nonEmpty) out += out(r.nextInt(out.size))
      else {
        val ts =
          if (x < 0.08 && s > 0) start - 10 * 60000L + r.nextInt(5 * 60000)
          else if (x < 0.10 && s > 1) start - 4 * 3600000L + r.nextInt(10 * 60000)
          else start + r.nextInt(SliceMinutes * 60000)
        out += Event(s.toLong * 1000000L + i, ts, r.nextInt(Users).toLong,
          Types(r.nextInt(Types.size)), BigDecimal(r.nextInt(100000)) / 100)
      }
    }
    out.toSeq
  }

  def hourOf(ms: Long): Long = ms - Math.floorMod(ms, 3600000L)
  val WatermarkMs: Long = 30 * 60000L

  /** Expected hourly aggregate rows after the slices `slices` ran, one
    * trigger each: an event counts unless it is older than the watermark in
    * force for its batch (max event time of earlier batches minus 30 min).
    * Returns (required windows, allowed windows, value per window): windows
    * closed by the watermark before the last batch must be emitted; those
    * the last batch closes may be. */
  def expectedHourly(slices: Seq[Seq[Event]])
      : (Set[(Long, String)], Set[(Long, String)], Map[(Long, String), (Long, Double)]) = {
    var wm = Long.MinValue
    var maxTs = Long.MinValue
    var wmBeforeLast = Long.MinValue
    val kept = mutable.ArrayBuffer[Event]()
    slices.foreach { sl =>
      wmBeforeLast = wm
      kept ++= sl.filter(e => wm == Long.MinValue || e.tsMs >= wm)
      maxTs = math.max(maxTs, sl.map(_.tsMs).max)
      wm = maxTs - WatermarkMs
    }
    val agg = kept.groupBy(e => (hourOf(e.tsMs), e.kind)).map { case (k, es) =>
      k -> (es.size.toLong, es.map(_.value).sum.toDouble)
    }
    def closedBy(w: Long) = agg.keySet.filter { case (h, _) => w != Long.MinValue && h + 3600000L <= w }
    (closedBy(wmBeforeLast), closedBy(wm), agg)
  }

  /** Latest row (highest event id) per (user, type) over every slice. */
  def expectedLatest(slices: Seq[Seq[Event]]): Map[(Long, String), (Long, Long, Double)] =
    slices.flatten.groupBy(e => (e.user, e.kind)).map { case (k, es) =>
      val e = es.maxBy(_.id); k -> (e.id, e.tsMs, e.value.toDouble)
    }

  /** Lands slice `s` atomically into the stream's landing directory;
    * returns its bytes. */
  def land(spark: SparkSession, dir: String, s: Int, events: Seq[Event]): Long = {
    import spark.implicits._
    val staging = s"$dir/staging/$s"
    events.map(e => (e.id, new Timestamp(e.tsMs), e.user, e.kind, e.value.toDouble, s"""{"k": ${e.id % 97}}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
    val landing = new java.io.File(s"$dir/landing")
    landing.mkdirs()
    val dest = new java.io.File(landing, f"slice-$s%05d.parquet")
    java.nio.file.Files.move(part.toPath, dest.toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    dest.length()
  }

  final class Progress {
    val durations = mutable.Map[String, Double]().withDefaultValue(0.0)
    var overheadS = 0.0
    var batches = 0L
    val stateRows = mutable.ArrayBuffer[Double]()
  }

  /** One slice through both streams; returns the events it completed. */
  def pass(ctx: Ctx, dir: String, n: Int, pr: Progress): Long = {
    val t = System.nanoTime()
    val progress = ctx.call("streaming", "runAvailableNowTo") {
      val events = EventsStream.readEventsStream(ctx.spark, s"$dir/landing")
      EventsStream.runAvailableNowTo(EventsStream.hourlyAggregates(events),
        s"$dir/ckpt_hourly", s"$dir/out/hourly")
    }
    val wall = (System.nanoTime() - t) / 1e9
    ctx.call("streaming", "runUpsertLatest") {
      UpsertSink.runUpsertLatest(EventsStream.readEventsStream(ctx.spark, s"$dir/landing"),
        s"$dir/ckpt_upsert", s"$dir/out/latest")
    }
    progress.foreach { p =>
      p.durationMs.forEach((k, v) => pr.durations(k) += v.longValue / 1e3)
    }
    pr.overheadS += wall - progress.map(_.batchDuration).sum / 1e3
    pr.batches += progress.length
    progress.lastOption.foreach(p => pr.stateRows += p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    n.toLong
  }

  /** Per-layer figures of the streaming protocol, from the progress reports. */
  def layerExtras(pr: Progress): Map[String, Double] = Map(
    "streaming.add_batch_s" -> pr.durations("addBatch"),
    "streaming.query_planning_s" -> pr.durations("queryPlanning"),
    "streaming.wal_commit_s" -> pr.durations("walCommit"),
    "streaming.commit_offsets_s" -> pr.durations("commitOffsets"),
    "streaming.latest_offset_s" -> pr.durations("latestOffset"),
    "streaming.trigger_overhead_s" -> pr.overheadS,
    "streaming.batches" -> pr.batches.toDouble,
    "streaming.state_rows" -> (if (pr.stateRows.isEmpty) 0.0 else Stats.median(pr.stateRows.toSeq)))

  /** On-disk bytes of the stream's sinks and checkpoints. */
  def storedBytes(dir: String): Long =
    Seq("out", "ckpt_hourly", "ckpt_upsert").map(d => Stats.dirBytes(s"$dir/$d")).sum

  /** Hourly rows equal the watermark-respecting sums; the upsert target
    * holds exactly the latest row per key. */
  def verify(ctx: Ctx, dir: String, slices: Seq[Seq[Event]]): Unit = {
    val spark = ctx.spark
    val (required, allowed, agg) = expectedHourly(slices)
    val hourly = spark.read.parquet(s"$dir/out/hourly").collect().map { r =>
      (r.getAs[Timestamp]("hour").getTime, r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))
    }.toSeq
    val got = hourly.map(_._1).toSet
    ctx.check(hourly.size == got.size, "hourly aggregate emitted a window twice")
    ctx.check(required.subsetOf(got) && got.subsetOf(allowed),
      s"hourly windows: ${(required diff got).size} missing, ${(got diff allowed).size} unexpected")
    val wrong = hourly.filter { case (k, v) => !agg.get(k).contains(v) }
    ctx.check(wrong.isEmpty, s"hourly values differ: ${wrong.take(3)} " +
      s"expected ${wrong.take(3).map(w => agg.get(w._1))}")
    val want = expectedLatest(slices)
    val latest = spark.read.parquet(s"$dir/out/latest").collect().map { r =>
      (r.getAs[Long]("user_id"), r.getAs[String]("event_type")) ->
        (r.getAs[Long]("event_id"), r.getAs[Timestamp]("ts").getTime, r.getAs[Double]("value"))
    }.toSeq
    ctx.check(latest.size == want.size && latest.forall { case (k, v) => want.get(k).contains(v) },
      s"upsert target: ${latest.size} rows for ${want.size} keys, " +
        s"${latest.count { case (k, v) => !want.get(k).contains(v) }} wrong")
  }
}
