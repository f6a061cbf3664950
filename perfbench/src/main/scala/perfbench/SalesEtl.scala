package perfbench

import graft.enrich.StarJoin
import graft.ingest.SalesIngest
import graft.io.{LandingZone, Ledger, Sinks}
import graft.marts.Marts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}
import scala.math.BigDecimal.RoundingMode

/** `sales_etl`: the reference pipeline once per generated day of sales CSV,
  * beside that day's slice of events through the streaming ingest. Each day
  * lands four files with the reference's eight mandatory columns: two plain,
  * one with an extra `payment_mode` column (schema drift, accepted) and one
  * without `store_id` (rejected); and one slice of events (EventSlices). */
object SalesEtl extends Workload {
  val name = "sales_etl"
  /** Days 0 and 1 pay the JVM's first-use costs: run and checked, not
    * timed. Day latency falls by a fifth or more over the first days while
    * the JIT compiles Spark's per-call paths, so with one untimed day the
    * tail measured how fast the JIT warmed up (SPEC.md). */
  val warmupUnits = 2
  val nominalUnitSeconds = 4.3
  /** Benchmark span of the traced-only CSV read that `ingest.scan_s` is
    * taken from. */
  val ScanProbe = "ingest_scan"

  val RowsPerFile = 2000
  val Customers = 300
  val Stores: Seq[Int] = 121 to 128
  val PersonsPerStore = 3

  final case class Sale(customerId: Int, storeId: Int, product: String, date: String,
                        personId: Int, price: BigDecimal, qty: Int, payment: String) {
    def total: BigDecimal = price * qty
  }
  final case class Person(id: Int, storeId: Int, first: String, last: String)
  final case class Customer(id: Int, first: String, last: String)

  /** One landed file: its name, whether triage must reject it, its rows. */
  final case class DayFile(name: String, rejected: Boolean, drift: Boolean, rows: Seq[Sale])

  val Products: Seq[(String, BigDecimal)] = Seq(
    "quaker oats" -> "212.00", "sugar" -> "50.00", "maida" -> "20.00", "besan" -> "52.00",
    "refined oil" -> "110.00", "clinic plus" -> "1.50", "dantkanti" -> "100.00",
    "nutrella" -> "40.00", "tea" -> "30.25", "coffee" -> "55.75"
  ).map { case (n, p) => n -> BigDecimal(p) }
  private val Firsts = Seq("Asha", "Ravi", "Meera", "Kiran", "Arjun", "Divya", "Sanjay",
    "Lata", "Vikram", "Nisha", "Farhan", "Gita", "Imran", "Jaya", "Mohan", "Pooja")
  private val Lasts = Seq("Sharma", "Verma", "Iyer", "Khan", "Patel", "Reddy", "Nair",
    "Gupta", "Das", "Bose", "Singh", "Menon")

  final case class Dims(customers: Seq[Customer], persons: Seq[Person])

  def dims(seed: Long): Dims = {
    val r = new scala.util.Random(seed)
    def pick(xs: Seq[String]) = xs(r.nextInt(xs.size))
    Dims(
      (1 to Customers).map(i => Customer(i, pick(Firsts), pick(Lasts))),
      for ((s, k) <- Stores.zipWithIndex; j <- 1 to PersonsPerStore)
        yield Person(k * PersonsPerStore + j, s, pick(Firsts), pick(Lasts)))
  }

  def date(day: Int): String = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString

  /** The files of day `day`, a pure function of (seed, day). */
  def dayFiles(seed: Long, d: Dims, day: Int, rowsPerFile: Int = RowsPerFile): Seq[DayFile] = {
    val r = new scala.util.Random(seed * 1000003L + day)
    val dt = date(day)
    Seq("a" -> 0, "b" -> 0, "drift" -> 1, "bad" -> 2).map { case (tag, kind) =>
      val rows = Seq.fill(rowsPerFile) {
        val p = d.persons(r.nextInt(d.persons.size))
        val (prod, price) = Products(r.nextInt(Products.size))
        Sale(1 + r.nextInt(Customers), p.storeId, prod, dt, p.id, price, 1 + r.nextInt(10),
          if (r.nextBoolean()) "cash" else "UPI")
      }
      DayFile(s"sales_data_${dt}_$tag.csv", rejected = kind == 2, drift = kind == 1, rows)
    }
  }

  /** Writes `f` as CSV into `dir`; returns its size in bytes. */
  def writeCsv(dir: String, f: DayFile): Long = {
    val cols = SalesIngest.mandatoryColumns.filterNot(c => f.rejected && c == "store_id") ++
      (if (f.drift) Seq("payment_mode") else Nil)
    val sb = new StringBuilder(cols.mkString(",")).append('\n')
    f.rows.foreach { s =>
      sb.append(s.customerId)
      if (!f.rejected) sb.append(',').append(s.storeId)
      sb.append(',').append(s.product).append(',').append(s.date).append(',')
        .append(s.personId).append(',').append(s.price.toString).append(',').append(s.qty)
        .append(',').append(s.total.toString)
      if (f.drift) sb.append(',').append(s.payment)
      sb.append('\n')
    }
    val bytes = sb.toString.getBytes("UTF-8")
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, f.name), bytes)
    bytes.length.toLong
  }

  // mart rows as the sinks store them: (day, ...) keys mapped to values
  type CustKey = (Int, Int, String, String) // day, customer, full name, month
  type SalesKey = (Int, Int, Int, String, String) // day, store, person, full name, month

  /** Expected marts of one day, computed without the engine: exact decimal
    * sums, `rank()` ties, and the 1 % incentive for rank 1 rounded half-up. */
  def expected(d: Dims, day: Int, files: Seq[DayFile])
      : (Map[CustKey, Double], Map[SalesKey, (Double, Double)]) = {
    val sales = files.filterNot(_.rejected).flatMap(_.rows)
    val cust = d.customers.map(c => c.id -> s"${c.first} ${c.last}").toMap
    val pers = d.persons.map(p => p.id -> s"${p.first} ${p.last}").toMap
    def month(s: Sale) = s.date.substring(0, 7)
    val cm = sales.groupBy(s => (day, s.customerId, cust(s.customerId), month(s)))
      .map { case (k, ss) => k -> ss.map(_.total).sum.toDouble }
    val totals = sales.groupBy(s => (day, s.storeId, s.personId, pers(s.personId), month(s)))
      .map { case (k, ss) => k -> ss.map(_.total).sum }
    val sm = totals.map { case (k, t) =>
      val rank = 1 + totals.count { case (k2, t2) => k2._2 == k._2 && k2._5 == k._5 && t2 > t }
      val incentive = if (rank == 1) (t * BigDecimal("0.01")).setScale(2, RoundingMode.HALF_UP) else BigDecimal(0)
      k -> (t.toDouble, incentive.toDouble)
    }
    (cm, sm)
  }

  /** Differences between expected and stored mart rows, at most a few. */
  def diff[K, V](what: String, want: Map[K, V], got: Seq[(K, V)]): Seq[String] = {
    val g = got.groupBy(_._1)
    val dup = g.collect { case (k, vs) if vs.size > 1 => s"$what: duplicate row $k" }
    val missing = want.keys.filterNot(g.contains).map(k => s"$what: missing row $k")
    val extra = g.keys.filterNot(want.contains).map(k => s"$what: unexpected row $k")
    val wrong = want.collect { case (k, v) if g.get(k).exists(_.head._2 != v) =>
      s"$what: row $k is ${g(k).head._2}, expected $v" }
    (dup ++ missing ++ extra ++ wrong).toSeq.take(5)
  }

  private def writeDims(spark: SparkSession, d: Dims, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    d.customers.map(c => (c.id, c.first, c.last, s"${c.id} Park Street", 560000 + c.id))
      .toDF("c_id", "c_first_name", "c_last_name", "c_address", "c_pincode")
      .write.mode("overwrite").parquet(s"$dir/customer")
    Stores.map(s => (s, s"$s Market Road", s"Manager $s"))
      .toDF("st_id", "st_address", "st_manager").write.mode("overwrite").parquet(s"$dir/store")
    d.persons.map(p => (p.id, p.first, p.last, p.storeId))
      .toDF("sp_id", "sp_first_name", "sp_last_name", "sp_store_id")
      .write.mode("overwrite").parquet(s"$dir/sales_team")
    (spark.read.parquet(s"$dir/customer"), spark.read.parquet(s"$dir/store"),
      spark.read.parquet(s"$dir/sales_team"))
  }

  /** One day through the reference pipeline; returns the accepted fact rows
    * it processed. */
  def pass(ctx: Ctx, dims: (DataFrame, DataFrame, DataFrame), day: Int, acceptedRows: Long): Long = {
    val spark = ctx.spark
    val dir = ctx.dir
    val (customers, stores, team) = dims
    val files = ctx.call("io.landing", "listCsv")(LandingZone.listCsv(s"$dir/landing/$day"))
    val (accepted, rejected) = ctx.call("ingest", "triage")(SalesIngest.triage(files))
    ctx.call("io.landing", "quarantine")(LandingZone.quarantine(rejected.keys.toSeq, s"$dir/errors"))
    ctx.call("io.ledger", "recordActive")(Ledger.recordActive(spark, s"$dir/ledger", accepted))
    val sales = ctx.call("ingest", "readSales")(SalesIngest.readSales(spark, accepted))
    val withCust = ctx.call("enrich", "joinDim")(StarJoin.joinDim(sales, customers, "customer_id", "c_id"))
    val withStore = ctx.call("enrich", "joinDim")(StarJoin.joinDim(withCust, stores, "store_id", "st_id"))
    val enriched = ctx.call("enrich", "joinDim")(StarJoin.joinDim(withStore, team, "sales_person_id", "sp_id"))
    val custMart = ctx.call("marts", "customerMartGrouped")(Marts.customerMartGrouped(enriched,
      col("customer_id"), concat_ws(" ", col("c_first_name"), col("c_last_name")),
      col("sales_date"), col("total_cost")))
    val salesMart = ctx.call("marts", "salesMart")(Marts.salesMart(enriched, col("store_id"),
      col("sales_person_id"), concat_ws(" ", col("sp_first_name"), col("sp_last_name")),
      col("sales_date"), col("total_cost")))
    ctx.call("io.sinks", "writePartitioned")(Sinks.writePartitioned(salesMart,
      s"$dir/out/sales_team/day=$day", Seq("sales_month", "store_id")))
    ctx.call("io.sinks", "writeParquet")(Sinks.writeParquet(custMart, s"$dir/out/customer/day=$day"))
    ctx.call("io.landing", "archive")(LandingZone.archive(accepted, s"$dir/archive"))
    ctx.call("io.ledger", "markDone")(Ledger.markDone(spark, s"$dir/ledger", accepted))
    acceptedRows
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val d = dims(ctx.seed)
    val dimFrames = writeDims(spark, d, s"${ctx.dir}/dims")
    val days = scala.collection.mutable.ArrayBuffer[Seq[DayFile]]()
    val slices = scala.collection.mutable.ArrayBuffer[Seq[EventSlices.Event]]()
    val events = s"${ctx.dir}/events"
    var pr = new EventSlices.Progress
    var inputBytes = 0L
    val loop = Workload.closedLoop(ctx, this, prepare = { day =>
      val files = dayFiles(ctx.seed, d, day, ctx.scaled(RowsPerFile))
      inputBytes += files.map(writeCsv(s"${ctx.dir}/landing/$day", _)).sum
      days += files
      // traced runs only: the day's accepted files through the ingest
      // module's own plan (CSV scan + normalize) into a no-op sink. In the
      // day's pass the scan shares a code-generated stage with the joins
      // and the partial aggregate, so its time cannot be read off there.
      if (ctx.tracer.recording)
        ctx.bench(ScanProbe)(SalesIngest.readSales(spark, files.filterNot(_.rejected)
          .map(f => s"${ctx.dir}/landing/$day/${f.name}")).write.format("noop").mode("overwrite").save())
      val ev = EventSlices.slice(ctx.seed, day, ctx.scaled(EventSlices.EventsPerSlice))
      inputBytes += EventSlices.land(spark, events, day, ev)
      slices += ev
    }, first = { () => pr = new EventSlices.Progress; 0L }) { day => // progress of timed days only
      pass(ctx, dimFrames, day, days(day).filterNot(_.rejected).map(_.rows.size.toLong).sum) +
        EventSlices.pass(ctx, events, slices(day).size, pr)
    }
    graft.io.StateStores.unloadAllQuietly()
    val failedBefore = ctx.failed
    verify(ctx, d, days.toSeq)
    EventSlices.verify(ctx, events, slices.toSeq)
    System.err.println(s"perfbench: sales_etl checks: ${ctx.failed - failedBefore} failed")
    Outcome(loop.units, loop.busy, loop.rows, ctx.attempted, ctx.failed, inputBytes,
      Stats.dirBytes(s"${ctx.dir}/out") + EventSlices.storedBytes(events),
      EventSlices.layerExtras(pr) +
        ("ingest.files_rejected" -> days.map(_.count(_.rejected)).sum.toDouble))
  }

  /** Reads every stored output back and checks it against the plain-Scala
    * expectation: both marts of every day, the quarantined file set, the
    * ledger (every accepted file done), and the landing zone (empty). */
  def verify(ctx: Ctx, d: Dims, days: Seq[Seq[DayFile]]): Unit = {
    val spark = ctx.spark
    val dir = ctx.dir
    val conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    spark.conf.set(conf, "false")
    val (cust, sales) = try {
      (spark.read.parquet(s"$dir/out/customer").collect().map { r =>
        ((r.getAs[String]("day").toInt, r.getAs[Int]("customer_id"), r.getAs[String]("full_name"),
          r.getAs[String]("sales_month")), r.getAs[Double]("total_sales"))
      }.toSeq,
      spark.read.parquet(s"$dir/out/sales_team").collect().map { r =>
        ((r.getAs[String]("day").toInt, r.getAs[String]("store_id").toInt,
          r.getAs[Int]("sales_person_id"), r.getAs[String]("full_name"),
          r.getAs[String]("sales_month")), (r.getAs[Double]("total_sales"), r.getAs[Double]("incentive")))
      }.toSeq)
    } finally spark.conf.unset(conf)
    val custByDay = cust.groupBy(_._1._1)
    val salesByDay = sales.groupBy(_._1._1)
    days.zipWithIndex.foreach { case (files, day) =>
      val (wantC, wantS) = expected(d, day, files)
      val problems = diff("customer mart", wantC, custByDay.getOrElse(day, Nil)) ++
        diff("sales team mart", wantS, salesByDay.getOrElse(day, Nil))
      ctx.check(problems.isEmpty, s"day $day: ${problems.mkString("; ")}")
    }
    val acceptedNames = days.flatten.filterNot(_.rejected).map(_.name).toSet
    val rejectedNames = days.flatten.filter(_.rejected).map(_.name).toSet
    val quarantined = Option(new java.io.File(s"$dir/errors").list()).toSeq.flatten
      .filter(_.endsWith(".csv")).toSet
    ctx.check(quarantined == rejectedNames,
      s"quarantine holds ${quarantined.size} files, expected ${rejectedNames.size}")
    val ledger = Ledger.read(spark, s"$dir/ledger").collect().toSeq
    ctx.check(ledger.map(_.file_name).toSet == acceptedNames && ledger.size == acceptedNames.size &&
      ledger.forall(_.status == Ledger.Done),
      s"ledger: ${ledger.count(_.status != Ledger.Done)} rows not done, " +
        s"${ledger.size} rows for ${acceptedNames.size} accepted files")
    val left = days.indices.flatMap(day => LandingZone.listCsv(s"$dir/landing/$day"))
    ctx.check(left.isEmpty, s"landing zone still holds ${left.size} files")
  }
}
