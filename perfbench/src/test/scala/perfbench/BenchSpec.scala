package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks, at tiny input sizes: each workload passes on
  * the current program, a corrupted output fails, and the traced run's
  * attribution adds up. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = java.nio.file.Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark: SparkSession = Main.session(work)
  private var n = 0

  private def ctx(seed: Long, tracer: Tracer = null, scale: Double = 0.01): Ctx = {
    n += 1
    val t = if (tracer == null) new Tracer(spark, enabled = false, s"spec$n") else tracer
    Ctx(spark, s"$work/seg$n", seed, seconds = 0.001, t, scale)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Stats.deleteRecursively(work)
  }

  test("the set-up smoke test passes on a session with the extensions") {
    Main.smoke(spark, s"$work/smoke")
  }

  test("sales_etl passes its checks, and an altered mart row fails them") {
    val c = ctx(7L)
    val o = SalesEtl.run(c)
    // the warm-up days run first, then one timed day
    assert(o.failed == 0 && o.units.size == 1 && o.rows > 0)
    // alter one stored customer-mart row of day 0 and check again
    val path = s"${c.dir}/out/customer/day=0"
    val rows = spark.read.parquet(path).collect()
    val schema = spark.read.parquet(path).schema
    val bumped = rows.head.toSeq.updated(schema.fieldIndex("total_sales"),
      rows.head.getAs[Double]("total_sales") + 1.0)
    spark.createDataFrame(java.util.Arrays.asList(
      (org.apache.spark.sql.Row.fromSeq(bumped) +: rows.tail.toSeq): _*), schema)
      .write.mode("overwrite").parquet(path)
    val again = c.copy()
    val d = SalesEtl.dims(7L)
    SalesEtl.verify(again, d, (0 to SalesEtl.warmupUnits).map(SalesEtl.dayFiles(7L, d, _, c.scaled(SalesEtl.RowsPerFile))))
    assert(again.failed == 1)
  }

  test("the curation kernels pass their checks, and a removed planted duplicate fails them") {
    val c = ctx(3L)
    val (shard, docs, vecs, _) = CurationKernels.land(spark, 3L, 0, s"$work/shard", 200)
    assert(shard.clusters.nonEmpty && shard.twins.nonEmpty)
    val res = CurationKernels.pass(c, docs, vecs)
    assert(CurationKernels.problems(shard, res).isEmpty)
    val Seq(a, b, _) = shard.clusters.head
    val dropped = res.copy(lsh = res.lsh.filterNot(r => r.getLong(0) == a && r.getLong(1) == b))
    assert(dropped.lsh.length == res.lsh.length - 1)
    assert(CurationKernels.problems(shard, dropped).exists(_.contains("missed planted pair")))
  }

  test("known defect: dedupGroups drops labels when its union-find map grows while they are read") {
    // seed 45's 500-document shard gives 47 union-find keys. A Scala 2.13
    // mutable.HashMap holding 47 entries grows its table on the next update,
    // even of an existing key (path compression in `find`), and a keys
    // iterator made before the growth keeps the old table length, so it
    // skips the entries the growth moved to the upper half
    val (_, docs, _, _) = CurationKernels.land(spark, 45L, 0, s"$work/shard45", 500)
    val pairs = graft.ops.Dedup.minhashLsh(docs)
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // Dedup.dedupGroups' in-memory union-find, replayed on the same edges
    def unionFind(): (scala.collection.mutable.Map[Long, Long], Long => Long) = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (parent, find)
    }
    val (snap, findSnap) = unionFind()
    assert(snap.size == 47)
    val want = snap.keys.toList.map(k => k -> findSnap(k)).toMap
    val (live, findLive) = unionFind()
    val readWhileCompressing = live.keys.map(k => (k, findLive(k))).toMap
    assert(readWhileCompressing.size < want.size)
    assert(readWhileCompressing.forall { case (k, g) => want.get(k).contains(g) })
    val got = graft.ops.Dedup.dedupGroups(docs, pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id")).filter { case (d, g) => d != g }.toMap
    // the program loses exactly the labels the live iteration skips; once it
    // reads a snapshot of the keys, drop this line and the pending wrapper
    assert(got == readWhileCompressing)
    pendingUntilFixed(assert(got == want))
  }

  test("index_maintenance rounds through every statement equal the non-indexed probes") {
    val c = ctx(5L)
    val st = new IndexMaintenance.State(new IndexMaintenance.Schedule(5L, 120, 120, 12))
    val names = IndexMaintenance.Names(IndexMaintenance.tagOf(c.dir))
    IndexMaintenance.landBase(c, names, st)
    IndexMaintenance.create(c, names)
    val probed = (0 until 2).map { r => // retract in round 0, purge + compact in round 1
      val (d, _) = IndexMaintenance.prepare(c, names, st, r)
      IndexMaintenance.round(c, names, r, d, scala.collection.mutable.ArrayBuffer[Double]())
      IndexMaintenance.afterRound(c, names, st, r, d)
    }
    probed.foreach(IndexMaintenance.checkEqualsNonIndexed(c, _))
    assert(c.failed == 0 && st.retracted.nonEmpty)
    // a verdict flipped in the stored probe output no longer matches
    val last = probed.last
    val flipped = last.copy(mh = last.mh.map(_.replaceFirst("true", "false")))
    IndexMaintenance.checkEqualsNonIndexed(c, flipped)
    assert(c.failed == 1)
  }

  test("every task of the traced segment is attributed to a span; none untagged") {
    val tracer = new Tracer(spark, enabled = true, s"spec-traced")
    val c = ctx(9L, tracer)
    val o = SalesEtl.run(c)
    val (v, leak) = Report.perLayerValues(SalesEtl, o, o, tracer)
    assert(leak == 0)
    assert(v.getOrElse("untagged.jobs", 0.0) == 0.0)
    val layers = tracer.spans.map(_.layer).distinct
    assert(layers.map(l => v.getOrElse(s"$l.tasks", 0.0)).sum == tracer.jobs.get.run.tasks)
    assert(v("io.sinks.files_written") > 0 && v("ingest.scan_s") > 0 && v("streaming.batches") > 0)
    // self time never exceeds the span, and the units cover their calls
    val self = tracer.selfNs
    assert(tracer.spans.forall(s => self(s.id) <= s.durNs))
  }

  test("BENCHMARK.json lists exactly the metrics the report prints") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("../BENCHMARK.json"))
    def metrics(key: String) = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    }
    assert(metrics("end_to_end") == Report.EndToEnd)
    assert(metrics("per_layer") == Report.PerLayer)
    val workloads = json.get("workloads").elements()
    assert(Iterator.continually(workloads).takeWhile(_.hasNext).map(_.next().get("name").asText())
      .toSeq == Workload.all.map(_.name))
  }
}
