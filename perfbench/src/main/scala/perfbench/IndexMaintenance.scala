package perfbench

import graft.io.Bucketing
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** `index_maintenance`: curate a corpus shard with the curation kernels
  * (CurationKernels) and CREATE one persisted minhash index and one vector
  * index over a base corpus (both timed, once), then the daily-delta
  * lifecycle driven only through the SQL statements, one round per day:
  * PROBE the day's delta against both indexes, APPEND it to both, and on a
  * fixed cadence RETRACT (tombstone), PURGE RETRACTIONS and COMPACT INDEX. */
object IndexMaintenance extends Workload {
  val name = "index_maintenance"
  /** No untimed round: the first two rounds are the ones that issue every
    * statement, and the first-use costs they carry are the same every run. */
  val warmupUnits = 0
  /** One round that retracts and one that purges and compacts. */
  override val cycle = 2
  val nominalUnitSeconds = 8.5

  val BaseDocs = 2000
  val BaseVecs = 2000
  /** Delta sizes in round order, repeating: mostly tiny, some large; a
    * run's first two rounds see a tiny and a large delta. The seed picks the
    * rows, not their number, so every run does the same amount of work. */
  val Pattern: Seq[Int] = Seq(5, 400, 5, 60, 5, 5)
  /** RETRACT in even rounds; PURGE RETRACTIONS and COMPACT INDEX (all four
    * tables) in odd rounds, so a run's first two rounds issue every statement
    * and the odd round's probes pass the live tombstone gate. */
  def retracts(r: Int): Boolean = r % 2 == 0
  def purges(r: Int): Boolean = r % 2 == 1
  val RetractSize = 3
  val LshTables = 8
  /** Sign-LSH width provisioned at CREATE for the corpus the index grows to. */
  val LshBits: Int = Similarity.adaptiveBitsPerTable(BaseVecs * 2L)
  /** Base documents held back as retraction targets: never copied before
    * they are retracted, copied ("ghosts") after. */
  val Reserved = 200

  /** A round's delta; `planted`/`plantedVecs` map each planted near-copy
    * to its live source. */
  final case class Delta(docs: Seq[Corpus.Doc], vecs: Seq[Corpus.Vec],
                         planted: Map[Long, Long], plantedVecs: Map[Long, Long])

  /** The seeded schedule: base corpus, and for each round its delta. */
  final class Schedule(seed: Long, baseDocs: Int = BaseDocs, baseVecs: Int = BaseVecs,
                       reserved: Int = Reserved) {
    private val r0 = new scala.util.Random(seed)
    val docs: IndexedSeq[Corpus.Doc] = (0 until baseDocs).map(i => Corpus.randomDoc(r0, i.toLong))
    val vecs: IndexedSeq[Corpus.Vec] = (0 until baseVecs).map(i => Corpus.randomVec(r0, i.toLong))
    /** Retraction targets in retraction order. */
    val retractDocs: IndexedSeq[Long] = ((baseDocs - reserved) until baseDocs).map(_.toLong)
    val retractVecs: IndexedSeq[Long] = ((baseVecs - reserved) until baseVecs).map(_.toLong)
    private var nextDoc = 1000000L
    private var nextVec = 1000000L

    def retractBatch(k: Int): (Seq[Long], Seq[Long]) =
      (retractDocs.slice(k * RetractSize, (k + 1) * RetractSize),
        retractVecs.slice(k * RetractSize, (k + 1) * RetractSize))

    /** Delta of round `round`, given the ids retracted so far. */
    def delta(round: Int, retracted: Set[Long], retractedVecs: Set[Long]): Delta = {
      val r = new scala.util.Random(seed * 7919L + round)
      val n = Pattern(round % Pattern.size)
      val docOut = mutable.ArrayBuffer[Corpus.Doc]()
      val vecOut = mutable.ArrayBuffer[Corpus.Vec]()
      val planted = mutable.Map[Long, Long]()
      val plantedV = mutable.Map[Long, Long]()
      val sources = baseDocs - reserved
      for (i <- 0 until n) {
        val id = nextDoc; nextDoc += 1
        val vid = nextVec; nextVec += 1
        if (i % 5 == 0) { // planted near-copy of a live source
          val src = docs(r.nextInt(sources)); planted(id) = src.id
          docOut += Corpus.nearCopy(r, src, id)
          val vs = vecs(r.nextInt(baseVecs - reserved)); plantedV(vid) = vs.id
          vecOut += Corpus.nearVec(r, vs, vid)
        } else if (i % 5 == 1 && retracted.nonEmpty) { // copy of a retracted doc
          val src = retracted.toSeq.sorted.apply(r.nextInt(retracted.size))
          docOut += Corpus.nearCopy(r, docs(src.toInt), id)
          val vs = retractedVecs.toSeq.sorted.apply(r.nextInt(retractedVecs.size))
          vecOut += Corpus.nearVec(r, vecs(vs.toInt), vid)
        } else {
          docOut += Corpus.randomDoc(r, id)
          vecOut += Corpus.randomVec(r, vid)
        }
      }
      Delta(docOut.toSeq, vecOut.toSeq, planted.toMap, plantedV.toMap)
    }
  }

  /** Table names of one segment (segments share a warehouse). */
  final case class Names(tag: String) {
    val bands = s"${tag}_mh_bands"; val sigs = s"${tag}_mh_sigs"; val tombs = s"${tag}_mh_tombs"
    val vbands = s"${tag}_v_bands"; val vecs = s"${tag}_v_vecs"; val vtombs = s"${tag}_v_tombs"
    val outMh = s"${tag}_mh_out"; val outV = s"${tag}_v_out"
    val deltaDocs = s"${tag}_delta_docs"; val deltaVecs = s"${tag}_delta_vecs"
    val retDocs = s"${tag}_ret_docs"; val retVecs = s"${tag}_ret_vecs"
    val baseDocs = s"${tag}_base_docs"; val baseVecs = s"${tag}_base_vecs"
    def indexTables: Seq[String] = Seq(bands, sigs, vbands, vecs)
  }

  def tagOf(dir: String): String =
    new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")

  /** Live state the checks replay: which ids are indexed, which retracted. */
  final class State(val sched: Schedule) {
    val liveDocs = mutable.LinkedHashMap[Long, Corpus.Doc]() ++= sched.docs.map(d => d.id -> d)
    val liveVecs = mutable.LinkedHashMap[Long, Corpus.Vec]() ++= sched.vecs.map(v => v.id -> v)
    val retracted = mutable.Set[Long]()
    val retractedVecs = mutable.Set[Long]()
  }

  def create(ctx: Ctx, n: Names): Unit = {
    ctx.call("sql.create", "minhash")(ctx.spark.sql(
      s"CREATE minhash INDEX ${n.bands}, ${n.sigs} AS SELECT doc_id, text FROM ${n.baseDocs}").collect())
    ctx.call("sql.create", "vector")(ctx.spark.sql(
      s"CREATE vector INDEX ${n.vbands}, ${n.vecs} TABLES $LshTables BITS $LshBits " +
        s"AS SELECT vec_id, embedding FROM ${n.baseVecs}").collect())
  }

  /** One round; returns the delta rows (documents + vectors) it completed. */
  def round(ctx: Ctx, n: Names, r: Int, d: Delta, probeTimes: mutable.ArrayBuffer[Double]): Long = {
    val sql = (s: String) => ctx.spark.sql(s).collect()
    def probe(op: String)(body: => Unit): Unit = {
      val t = System.nanoTime(); ctx.call("sql.probe", op)(body)
      probeTimes += (System.nanoTime() - t) / 1e9
    }
    probe("minhash")(sql(s"PROBE minhash INDEX ${n.bands}, ${n.sigs} TOMBSTONES ${n.tombs} " +
      s"INTO ${n.outMh} AS SELECT doc_id, text FROM ${n.deltaDocs}"))
    probe("vector")(sql(s"PROBE vector INDEX ${n.vbands}, ${n.vecs} TOMBSTONES ${n.vtombs} " +
      s"INTO ${n.outV} AS SELECT vec_id, embedding FROM ${n.deltaVecs}"))
    ctx.call("sql.append", "minhash")(sql(s"APPEND TO minhash INDEX ${n.bands}, ${n.sigs} " +
      s"BATCH ${r + 1} AS SELECT doc_id, text FROM ${n.deltaDocs}"))
    ctx.call("sql.append", "vector")(sql(s"APPEND TO vector INDEX ${n.vbands}, ${n.vecs} " +
      s"BATCH ${r + 1} AS SELECT vec_id, embedding FROM ${n.deltaVecs}"))
    if (retracts(r)) {
      ctx.call("sql.retract", "minhash")(sql(s"RETRACT FROM minhash INDEX ${n.bands}, ${n.sigs} " +
        s"TOMBSTONES ${n.tombs} BATCH $r AS SELECT doc_id FROM ${n.retDocs}"))
      ctx.call("sql.retract", "vector")(sql(s"RETRACT FROM vector INDEX ${n.vbands}, ${n.vecs} " +
        s"TOMBSTONES ${n.vtombs} BATCH $r AS SELECT vec_id FROM ${n.retVecs}"))
    }
    if (purges(r)) {
      ctx.call("sql.purge", "minhash")(sql(
        s"PURGE RETRACTIONS FROM minhash INDEX ${n.bands}, ${n.sigs} TOMBSTONES ${n.tombs}"))
      ctx.call("sql.purge", "vector")(sql(
        s"PURGE RETRACTIONS FROM vector INDEX ${n.vbands}, ${n.vecs} TOMBSTONES ${n.vtombs}"))
    }
    if (purges(r))
      n.indexTables.foreach(t => ctx.call("sql.compact", "table")(sql(s"COMPACT INDEX $t")))
    d.docs.size.toLong + d.vecs.size
  }

  /** Untimed: land round `r`'s delta (and retraction batch) as parquet
    * behind the views the statements read; returns the delta and its bytes. */
  def prepare(ctx: Ctx, n: Names, st: State, r: Int): (Delta, Long) = {
    val spark = ctx.spark
    val d = st.sched.delta(r, st.retracted.toSet, st.retractedVecs.toSet)
    val dir = s"${ctx.dir}/delta/$r"
    val bytes = Corpus.land(Corpus.docsFrame(spark, d.docs), s"$dir/docs") +
      Corpus.land(Corpus.vecsFrame(spark, d.vecs), s"$dir/vecs")
    spark.read.parquet(s"$dir/docs").createOrReplaceTempView(n.deltaDocs)
    spark.read.parquet(s"$dir/vecs").createOrReplaceTempView(n.deltaVecs)
    if (retracts(r)) {
      val (docs, vecs) = st.sched.retractBatch(r / 2)
      import spark.implicits._
      docs.toDF("doc_id").createOrReplaceTempView(n.retDocs)
      vecs.toDF("vec_id").createOrReplaceTempView(n.retVecs)
    }
    (d, bytes)
  }

  /** A round's probe outputs with the live corpus they were probed against. */
  final case class Probed(round: Int, docs: Seq[Corpus.Doc], vecs: Seq[Corpus.Vec], delta: Delta,
                          mh: Set[String], v: Set[String])

  /** Untimed: check the round's probe outputs for the planted structure,
    * then advance the live state. Returns the outputs for the equality
    * check against the non-indexed probes. */
  def afterRound(ctx: Ctx, n: Names, st: State, r: Int, d: Delta): Probed = {
    val spark = ctx.spark
    val mhRows = spark.table(n.outMh).collect()
    val vRows = spark.table(n.outV).collect()
    def verdicts(rows: Array[org.apache.spark.sql.Row]) = rows.map(x =>
      x.getLong(0) -> (x.getBoolean(1), if (x.isNullAt(2)) -1L else x.getLong(2))).toMap
    val (mh, v) = (verdicts(mhRows), verdicts(vRows))
    ctx.check(mh.size == d.docs.size && v.size == d.vecs.size,
      s"round $r: ${mh.size} + ${v.size} verdicts for ${d.docs.size} + ${d.vecs.size} delta rows")
    ctx.check(plantedFound(d, mh, v), s"round $r: a planted near-duplicate was not found")
    ctx.check(!(mh.values ++ v.values).exists { case (_, of) =>
      st.retracted(of) || st.retractedVecs(of) }, s"round $r: a retracted id matched")
    val probed = Probed(r, st.liveDocs.values.toSeq, st.liveVecs.values.toSeq, d,
      mhRows.map(_.toString).toSet, vRows.map(_.toString).toSet)
    d.docs.foreach(x => st.liveDocs(x.id) = x)
    d.vecs.foreach(x => st.liveVecs(x.id) = x)
    if (retracts(r)) {
      val (docs, vecs) = st.sched.retractBatch(r / 2)
      docs.foreach { id => st.liveDocs.remove(id); st.retracted += id }
      vecs.foreach { id => st.liveVecs.remove(id); st.retractedVecs += id }
    }
    probed
  }

  /** The indexed probes equal `Dedup.incrementalMinhashVerdicts` and
    * `Similarity.incrementalCosineVerdicts` over the live corpus. */
  def checkEqualsNonIndexed(ctx: Ctx, p: Probed): Unit = {
    val spark = ctx.spark
    val wantMh = Dedup.incrementalMinhashVerdicts(Corpus.docsFrame(spark, p.docs),
      Corpus.docsFrame(spark, p.delta.docs)).collect().map(_.toString).toSet
    ctx.check(p.mh == wantMh, s"round ${p.round}: minhash PROBE differs from the non-indexed " +
      s"verdicts on the live corpus (${(p.mh diff wantMh).take(3)} vs ${(wantMh diff p.mh).take(3)})")
    val wantV = Similarity.incrementalCosineVerdicts(Corpus.vecsFrame(spark, p.vecs),
      Corpus.vecsFrame(spark, p.delta.vecs), tables = LshTables, bitsPerTable = LshBits)
      .collect().map(_.toString).toSet
    ctx.check(p.v == wantV, s"round ${p.round}: vector PROBE differs from the non-indexed " +
      s"verdicts on the live corpus (${(p.v diff wantV).take(3)} vs ${(wantV diff p.v).take(3)})")
  }

  /** Every planted copy of a live source is reported as a duplicate. */
  def plantedFound(d: Delta, mh: Map[Long, (Boolean, Long)], v: Map[Long, (Boolean, Long)]): Boolean =
    d.planted.keys.forall(id => mh.get(id).exists(_._1)) &&
      d.plantedVecs.keys.forall(id => v.get(id).exists(_._1))

  /** Untimed: the base corpus as parquet behind the CREATE views. */
  def landBase(ctx: Ctx, n: Names, st: State): Long = {
    val spark = ctx.spark
    val bytes = Corpus.land(Corpus.docsFrame(spark, st.sched.docs), s"${ctx.dir}/base_docs") +
      Corpus.land(Corpus.vecsFrame(spark, st.sched.vecs), s"${ctx.dir}/base_vecs")
    spark.read.parquet(s"${ctx.dir}/base_docs").createOrReplaceTempView(n.baseDocs)
    spark.read.parquet(s"${ctx.dir}/base_vecs").createOrReplaceTempView(n.baseVecs)
    bytes
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val st = new State(new Schedule(ctx.seed, ctx.scaled(BaseDocs), ctx.scaled(BaseVecs),
      ctx.scaled(Reserved)))
    val n = Names(tagOf(ctx.dir))
    var inputBytes = landBase(ctx, n, st)
    val deltas = mutable.ArrayBuffer[Delta]()
    val probeTimes = mutable.ArrayBuffer[Double]()
    val dataFiles = mutable.ArrayBuffer[Double]()
    var last: Probed = null
    val (shard, shardDocs, shardVecs, shardBytes) = CurationKernels.land(spark, ctx.seed, 0,
      s"${ctx.dir}/shard", ctx.scaled(CurationKernels.ShardDocs))
    inputBytes += shardBytes
    var curated: CurationKernels.Results = null
    val loop = Workload.closedLoop(ctx, this,
      prepare = { r =>
        val (d, bytes) = prepare(ctx, n, st, r)
        inputBytes += bytes
        deltas += d
      },
      first = { () =>
        curated = CurationKernels.pass(ctx, shardDocs, shardVecs)
        create(ctx, n)
        (shard.docs.size + shard.vecs.size + st.sched.docs.size + st.sched.vecs.size).toLong
      },
      after = { r =>
        if (ctx.tracer.recording)
          dataFiles += n.indexTables.map(t => Bucketing.dataFileCount(spark, t)).sum.toDouble
        last = afterRound(ctx, n, st, r, deltas(r))
      }) { r => round(ctx, n, r, deltas(r), probeTimes) }
    CurationKernels.verify(ctx, shard, curated)
    // the last round has seen every kind of maintenance the run issued
    checkEqualsNonIndexed(ctx, last)
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val stored = n.indexTables.map(t => Stats.dirBytes(s"$wh/$t")).sum
    Outcome(loop.units, loop.busy, loop.rows, ctx.attempted, ctx.failed, inputBytes, stored,
      Map("sql.probe.p50_s" -> Stats.median(probeTimes.toSeq),
        "sql.probe.tail_s" -> Stats.percentile(probeTimes.toSeq, Report.TailPercentile),
        "io.bucketing.data_files" -> (if (dataFiles.isEmpty) 0.0 else dataFiles.sum / dataFiles.size)))
  }
}
