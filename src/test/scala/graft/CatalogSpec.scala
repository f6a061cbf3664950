package graft

import org.apache.spark.sql.types.{ArrayType, MapType}

/** Contract checks over the WHOLE catalog — every SparkEntry entry, not
  * one operator. Schema-only (plans are built, nothing executes), so the
  * sweep stays fast as the catalog grows. */
class CatalogSpec extends SparkSpec {

  test("every oracle key has a matching query entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("no catalog query outputs an array or map column") {
    // the driver's oracle compare sorts result rows by every output
    // column with pandas, which cannot sort array cells — p30/q37
    // shipped array columns and were silently broken for two rounds
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = fn(spark, sfDir).schema.fields.filter(f =>
          f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[MapType])
        if (bad.isEmpty) None else Some(s"$name: ${bad.map(_.name).mkString(",")}")
    }
    assert(offenders.isEmpty,
      s"array/map-typed output columns break the driver compare:\n" +
        offenders.mkString("\n"))
  }

  test("flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).limit(1).count() === 1L)
  }

  test("every dev tool main is named in README.md") {
    // one-off tools accumulate unseen: before this guard, ten of sixteen
    // mains under graft/tools were unreferenced or answered a closed
    // question. A tool that is not worth a README usage line goes.
    import scala.jdk.CollectionConverters._
    def read(p: java.nio.file.Path): String =
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val readme = read(java.nio.file.Paths.get("README.md"))
    val objectDecl = """object\s+(\w+)""".r
    val mains = java.nio.file.Files.list(java.nio.file.Paths.get("src/main/scala/graft/tools"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { p =>
        val src = read(p)
        // the object enclosing each `def main(`: the nearest declaration before it
        """def\s+main\s*\(""".r.findAllMatchIn(src).flatMap(m =>
          objectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
            .map(_.group(1))).toSeq
      }.distinct
    assert(mains.nonEmpty, "no tool mains found — is the working directory the repo root?")
    val undocumented = mains.filterNot(n => readme.contains(s"graft.tools.$n"))
    assert(undocumented.isEmpty,
      s"tool mains missing from README.md: ${undocumented.sorted.mkString(", ")}")
  }

  test("documented catalog counts match SparkEntry.queries.size") {
    // round 12 shipped two operators the docs never learned about —
    // README/SURVEY kept saying "124" while the catalog held 126. Pin
    // every number-of-queries claim in the docs to the real count so
    // the drift cannot recur silently.
    val n = SparkEntry.queries.size
    def counts(path: String, re: scala.util.matching.Regex): Seq[Int] = {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      re.findAllMatchIn(text).map(_.group(1).toInt).toSeq
    }
    val readme = counts("README.md", """(\d+) catalog queries""".r)
    assert(readme.nonEmpty && readme.forall(_ == n),
      s"README.md claims catalog sizes $readme but SparkEntry has $n")
    // SURVEY keeps per-round historical headings (92/93, 107/107, …);
    // only the LATEST (largest) claim must track the live catalog
    val survey = counts("SURVEY.md", """(\d+)/\d+ catalog queries""".r)
    assert(survey.nonEmpty && survey.max == n,
      s"SURVEY.md's latest catalog-size claim ${survey.max} != SparkEntry's $n")
  }
}
