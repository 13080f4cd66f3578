package perfbench

import graft.query.{QueryParser, RowQueryEngine}

/** The benchmark's own test of its generator (no Spark):
  *
  *  - each search template hits for most seeds (typeahead: a non-empty
  *    page), so the read path measures searches that find records;
  *  - on one seed, the replay's hit sets agree with the row-level
  *    semantic spec (graft.query.RowQueryEngine) on a sample of bibs;
  *  - the same seed gives the same catalog and searches.
  *
  * Run with `python3 perfbench/run.py --selftest`; exits 1 on failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val size = Sizes.Catalog
    val seeds = 1L to 10L
    val hits = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    seeds.foreach { seed =>
      val cat = new Catalog(seed, size.topics, size.names, size.bibs)
      Searches.searches(cat, new java.util.SplittableRandom(seed)).foreach { s =>
        val hit = if (s.typeahead) Searches.typeaheadPage(cat, s.text).nonEmpty else s.expect.nonEmpty
        if (hit) hits(s.template) += 1
      }
    }
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    Searches.Templates.foreach { t =>
      println(f"template $t%-11s hits for ${hits(t)}%2d of ${seeds.size} seeds")
      if (hits(t) < seeds.size * 8 / 10) failures += s"template $t hits for ${hits(t)} of ${seeds.size} seeds"
    }

    val cat = new Catalog(7L, size.topics, size.names, size.bibs)
    val again = new Catalog(7L, size.topics, size.names, size.bibs)
    if (cat.bibs != again.bibs || cat.auths != again.auths) failures += "seed 7 gave two catalogs"
    val spec = new RowQueryEngine(cat.bibs, cat.auths)
    val r = new java.util.SplittableRandom(7L)
    val sample = cat.bibs.filter(_ => r.nextInt(30) == 0)
    Searches.searches(cat, new java.util.SplittableRandom(7L)).filterNot(_.typeahead).foreach { s =>
      val ast = QueryParser.parse(s.text, "bib")
      val differ = sample.filter(b => spec.matches(ast, b) != s.expect(b.id.get))
      println(f"replay vs spec ${s.template}%-11s ${s.expect.size}%5d hits, " +
        s"${differ.size} of ${sample.size} sampled bibs differ")
      if (differ.nonEmpty) failures += s"replay and spec differ on '${s.text}' for bibs ${differ.take(5).map(_.id.get)}"
    }
    failures.foreach(f => println(s"FAIL $f"))
    println(if (failures.isEmpty) "selftest passed" else s"selftest failed: ${failures.size}")
    if (failures.nonEmpty) sys.exit(1)
  }
}
