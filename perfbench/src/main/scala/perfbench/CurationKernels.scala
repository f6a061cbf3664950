package perfbench

import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.math.BigDecimal.RoundingMode

/** The curation kernels of `index_maintenance`, run over one corpus shard
  * before the indexes are built. A shard is a document set and an embedding
  * set with planted near-duplicate clusters, exact copies and nearest
  * neighbours; the pass runs MinHash LSH + dedup groups, SimHash pairs,
  * cosine near-dup pairs, IVF top-k, BM25 top-k and the hashed log-reg
  * threshold sweep. */
object CurationKernels {

  val ShardDocs = 2000
  val QueryStride = 50 // ivfTopK queries vec_id % 50 == 0
  val LabelMinTokens = 55

  final case class Shard(docs: IndexedSeq[Corpus.Doc], vecs: IndexedSeq[Corpus.Vec],
                         clusters: Seq[Seq[Long]], exactPairs: Seq[(Long, Long)],
                         twins: Map[Long, Long])

  /** Shard `k`: ids are k * 1e6 + i. 4 % of documents seed a cluster of two
    * near-copies, 1 % are copied verbatim; every ivf query vector has a
    * planted near twin. */
  def shard(seed: Long, k: Int, n: Int = ShardDocs): Shard = {
    val r = new scala.util.Random(seed * 31337L + k)
    val base = k * 1000000L
    val docs = mutable.ArrayBuffer[Corpus.Doc]()
    val clusters = mutable.ArrayBuffer[Seq[Long]]()
    val exact = mutable.ArrayBuffer[(Long, Long)]()
    while (docs.size < n) {
      val id = base + docs.size
      val d = Corpus.randomDoc(r, id)
      docs += d
      val x = r.nextDouble()
      if (x < 0.04 && docs.size + 2 <= n) {
        val c1 = Corpus.nearCopy(r, d, base + docs.size); docs += c1
        val c2 = Corpus.nearCopy(r, d, base + docs.size); docs += c2
        clusters += Seq(d.id, c1.id, c2.id)
      } else if (x < 0.05 && docs.size + 1 <= n) {
        val c = Corpus.Doc(base + docs.size, d.text); docs += c
        exact += (d.id -> c.id)
      }
    }
    val vecs = mutable.ArrayBuffer[Corpus.Vec]()
    val twins = mutable.Map[Long, Long]()
    while (vecs.size < n) {
      val id = base + vecs.size
      val v = Corpus.randomVec(r, id)
      vecs += v
      if (id % QueryStride == 0 && vecs.size < n) {
        val t = Corpus.nearVec(r, v, base + vecs.size); vecs += t
        twins(id) = t.id
      }
    }
    Shard(docs.toIndexedSeq, vecs.toIndexedSeq, clusters.toSeq, exact.toSeq, twins.toMap)
  }

  /** Results of one pass, collected (every kernel's output is small). */
  final case class Results(lsh: Array[Row], groups: Array[Row], simhash: Array[Row],
                           cosine: Array[Row], ivf: Array[Row], bm25: Array[Row],
                           logreg: Array[Row])

  def pass(ctx: Ctx, docs: DataFrame, vecs: DataFrame): Results = {
    val lshPairs = ctx.call("ops.dedup", "minhashLsh")(Dedup.minhashLsh(docs))
    Results(
      lsh = ctx.call("ops.dedup", "minhashLsh.collect")(lshPairs.collect()),
      groups = ctx.call("ops.dedup", "dedupGroups")(Dedup.dedupGroups(docs, lshPairs).collect()),
      simhash = ctx.call("ops.dedup", "simhashPairs")(Dedup.simhashPairs(docs).collect()),
      cosine = ctx.call("ops.similarity", "cosineNearDupPairs")(
        Similarity.cosineNearDupPairs(vecs).collect()),
      ivf = ctx.call("ops.similarity", "ivfTopK")(Similarity.ivfTopK(vecs).collect()),
      bm25 = ctx.call("ops.text", "bm25TopK")(TextAnalysis.bm25TopK(docs).collect()),
      logreg = ctx.call("ops.text", "evalHashedLogRegThresholds")(
        TextAnalysis.evalHashedLogRegThresholds(docs).collect()))
  }

  /** Untimed: shard `k` as parquet under `dir`; returns it, its frames and
    * its bytes. */
  def land(spark: SparkSession, seed: Long, k: Int, dir: String,
           n: Int = ShardDocs): (Shard, DataFrame, DataFrame, Long) = {
    val s = shard(seed, k, n)
    val bytes = Corpus.land(Corpus.docsFrame(spark, s.docs), s"$dir/docs") +
      Corpus.land(Corpus.vecsFrame(spark, s.vecs), s"$dir/vecs")
    (s, spark.read.parquet(s"$dir/docs"), spark.read.parquet(s"$dir/vecs"), bytes)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, RoundingMode.HALF_UP).toDouble

  /** BM25 score of every document for one query, as TextAnalysis.bm25TopK
    * defines it (k1 = 1.2, b = 0.75, idf and term scores rounded to 6). */
  def bm25Scores(docs: Seq[Corpus.Doc], terms: Seq[String]): Map[Long, BigDecimal] = {
    val toks = docs.map(d => d.id -> d.text.split(" ").toSeq)
    val n = docs.size.toDouble
    val avgdl = toks.map(_._2.size.toLong).sum.toDouble / n
    val df = terms.map(t => t -> toks.count(_._2.contains(t))).toMap
    toks.flatMap { case (id, ws) =>
      val dl = ws.size.toDouble
      val parts = terms.flatMap { t =>
        val tf = ws.count(_ == t).toDouble
        if (tf == 0) None
        else {
          val idf6 = round6(math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0))
          Some(BigDecimal(round6(idf6 * (tf * (1.2 + 1.0)) /
            (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))))))
        }
      }
      if (parts.isEmpty) None else Some(id -> parts.sum)
    }.toMap
  }

  /** Planted structure is found and every reported figure is re-derived
    * without the engine. Returns the problems found. */
  def problems(s: Shard, res: Results): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val text = s.docs.map(d => d.id -> d.text).toMap
    // minhash LSH: every planted cluster pair found; every pair's Jaccard exact
    val lsh = res.lsh.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    for (c <- s.clusters; Seq(a, b) <- c.combinations(2))
      if (!lsh.contains((math.min(a, b), math.max(a, b)))) out += s"minhash LSH missed planted pair ($a, $b)"
    for (((a, b), j) <- lsh) {
      val want = Corpus.jaccard(Corpus.shingles(text(a), 2), Corpus.shingles(text(b), 2))
      if (math.abs(want - j) > 1e-9 || j < 0.5) out += s"minhash LSH pair ($a, $b) jaccard $j, expected $want"
    }
    // dedup groups: each planted cluster collapses onto its lowest id
    val group = res.groups.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("group_id")).toMap
    for (c <- s.clusters; id <- c)
      if (group.getOrElse(id, id) != c.min) out += s"dedup group of $id is ${group.get(id)}, expected ${c.min}"
    // simhash: verbatim copies are found at distance 0; nothing beyond 3
    val sim = res.simhash.map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    for ((a, b) <- s.exactPairs if !sim.get((a, b)).contains(0)) out += s"simhash missed exact copy ($a, $b)"
    if (sim.values.exists(_ > 3)) out += "simhash reported a pair beyond hamming 3"
    // cosine pairs: planted twins found; each cosine re-derived
    val vec = s.vecs.map(v => v.id -> v.v).toMap
    val cos = res.cosine.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((q, t) <- s.twins if !cos.contains((q, t))) out += s"cosine pairs missed twin ($q, $t)"
    for (((a, b), c) <- cos) {
      val want = Corpus.cosine(vec(a), vec(b))
      if (math.abs(want - c) > 1e-5 || c < 0.9) out += s"cosine pair ($a, $b) is $c, expected $want"
    }
    // ivf top-k: every query's best neighbour is its planted twin
    val top1 = res.ivf.filter(_.getAs[Long]("q_id") >= 0).groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.maxBy(r => (r.getAs[Double]("cos_sim"), -r.getAs[Long]("c_id"))).getAs[Long]("c_id") }
    for ((q, t) <- s.twins if !top1.get(q).contains(t)) out += s"ivf top-1 of $q is ${top1.get(q)}, expected $t"
    // bm25: each query's best score equals the plain-Scala BM25 maximum
    val byQuery = res.bm25.groupBy(_.getAs[Long]("query_id"))
    for ((q, rs) <- byQuery) {
      val terms = text(q).split(" ").take(3).distinct.toSeq
      val want = bm25Scores(s.docs, terms).values.max.toDouble
      val got = rs.map(_.getAs[Double]("score")).max
      if (math.abs(want - got) > 1e-6) out += s"bm25 query $q top score $got, expected $want"
    }
    if (byQuery.size != s.docs.count(_.id % 100 == 0)) out += s"bm25 answered ${byQuery.size} queries"
    // log-reg sweep: each cutoff's confusion matrix covers every document and
    // the true positives + false negatives are the long documents
    val positives = s.docs.count(_.text.split(" ").length > LabelMinTokens)
    val sweep = res.logreg.map(r => (r.getAs[Long]("thr6"), r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("tn"), r.getAs[Long]("fn"))).sortBy(_._1)
    if (sweep.length != 5) out += s"log-reg sweep has ${sweep.length} cutoffs"
    for ((t, tp, fp, tn, fn) <- sweep)
      if (tp + fp + tn + fn != s.docs.size || tp + fn != positives) out += s"log-reg cutoff $t counts wrong"
    if (sweep.map(x => x._2 + x._3).sliding(2).exists(w => w.size == 2 && w(1) > w(0)))
      out += "log-reg predicted positives grow with the cutoff"
    out.toSeq.take(5)
  }

  def verify(ctx: Ctx, s: Shard, res: Results): Unit = {
    val p = problems(s, res)
    ctx.check(p.isEmpty, p.mkString("; "))
  }
}
