package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded documents and embeddings with planted near-duplicates, and the
  * plain-Scala measures the checks compare the engine's answers against. */
object Corpus {

  final case class Doc(id: Long, text: String)
  final case class Vec(id: Long, v: Array[Float])

  /** A vocabulary large enough that unrelated documents share almost no
    * word 2- or 3-shingles. */
  val Vocab: IndexedSeq[String] = {
    val syll = Seq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "da", "ve", "zu", "bi")
    for (a <- syll; b <- syll; c <- Seq("", "n", "r")) yield a + b + c
  }.toIndexedSeq

  def randomDoc(r: scala.util.Random, id: Long): Doc =
    Doc(id, Seq.fill(40 + r.nextInt(31))(Vocab(r.nextInt(Vocab.size))).mkString(" "))

  /** `src` with one word appended: word-shingle Jaccard above 0.96, so
    * banded MinHash finds the pair with certainty (miss rate below 1e-9 at
    * 16 bands of 8 or 4 rows) and the exact verify clears the 0.5 and 0.7
    * thresholds by far; unrelated documents sit near 0. */
  def nearCopy(r: scala.util.Random, src: Doc, id: Long): Doc =
    Doc(id, src.text + " planted" + r.nextInt(1000))

  val Dim = 64

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def randomVec(r: scala.util.Random, id: Long): Vec =
    Vec(id, unit(Array.fill(Dim)(r.nextGaussian())))

  /** `src` plus small noise: cosine ~0.998, far above the 0.45/0.9
    * thresholds, while unrelated vectors sit near 0. */
  def nearVec(r: scala.util.Random, src: Vec, id: Long): Vec =
    Vec(id, unit(src.v.map(x => x + 0.008 * r.nextGaussian())))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  def shingles(text: String, n: Int): Set[String] =
    text.split(" ").sliding(n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  def vecsFrame(spark: SparkSession, vecs: Seq[Vec]): DataFrame = {
    import spark.implicits._
    vecs.map(v => (v.id, v.v)).toDF("vec_id", "embedding")
  }

  /** Writes `df` as parquet at `path`; returns the bytes written. */
  def land(df: DataFrame, path: String): Long = {
    df.write.mode("overwrite").parquet(path)
    Stats.dirBytes(path)
  }
}
