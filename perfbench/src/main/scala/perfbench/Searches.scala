package perfbench

import graft.model.AuthLookup
import graft.query.QueryParser
import graft.records.Serialization
import graft.spark.{AuthOps, MarcRow, MarcSchema, SparkQueryCompiler}
import graft.store.MarcStore
import org.apache.spark.sql.DataFrame

/** The read path: DSL searches over a committed catalog, each fetching
  * a 25-record page and serializing it to MARCMaker, and the replay
  * that says what each must return. */
object Searches {

  val PageSize = 25

  /** One search of the mix: the DSL string (for a typeahead, the
    * needle), and the hit set the catalog's replay says it must return. */
  final case class Search(template: String, text: String, expect: Set[Long],
      sorted: Boolean = false, typeahead: Boolean = false)

  val Templates: Seq[String] = Seq("exact_head", "exact_tail", "regex_245", "word_245",
    "free_text", "subject", "and", "not", "sorted", "typeahead")

  /** One search per template, terms drawn from fixed frequency bands
    * (head/mid/tail auths, head and mid words) so that every seed gets
    * the same cost mix. Where a random term would often match nothing
    * at this catalog size, it is taken from a record that exists, so
    * the search hits. */
  def searches(cat: Catalog, r: java.util.SplittableRandom): Vector[Search] = {
    val rp = cat.replay
    def topic(tier: String): Int = tier match {
      case "head" => r.nextInt(Catalog.HeadAuths)
      case "mid" => Catalog.HeadAuths + r.nextInt(Catalog.MidAuths)
      case _ => Catalog.HeadAuths + Catalog.MidAuths +
        r.nextInt(cat.nTopics - Catalog.HeadAuths - Catalog.MidAuths)
    }
    def heading(tier: String) = cat.topicHeadings(topic(tier))
    def headWord = cat.word(r, 0, 30)
    def midWord = cat.word(r, 30, 300)
    /** a tail auth some bib links */
    def linkedTail: String = Iterator.continually(topic("tail"))
      .find(t => cat.attached.contains(cat.topicId(t))).map(cat.topicHeadings).get
    /** the words of the 245$a of a bib linking `h` */
    def titleOf(h: String): Array[String] = {
      val bibs = rp.exact(h).toVector.sorted
      cat.bibs(bibs(r.nextInt(bibs.size)).toInt - 1).getValue("245", "a")(cat.lookup)
        .toLowerCase.split(' ')
    }
    def one(template: String): Search = template match {
      case "exact_head" | "sorted" =>
        val h = heading("head")
        Search(template, s"650__a:'$h'", rp.exact(h), sorted = template == "sorted")
      case "exact_tail" =>
        val h = linkedTail
        Search(template, s"650__a:'$h'", rp.exact(h))
      case "regex_245" =>
        val rx = s"^${titleOf(heading("head")).head.take(4)}"
        Search(template, s"245__a:/$rx/i", rp.tagRegex("245", "a", rx))
      case "word_245" =>
        val w = midWord
        Search(template, s"245:$w", rp.tagWord("245", w))
      case "free_text" =>
        val q = s"$headWord $midWord"
        Search(template, q, rp.freeText(q))
      case "subject" =>
        val w = heading("mid").split(' ')(r.nextInt(3))
        Search(template, s"subject:$w", rp.subject(w))
      case "and" =>
        val h = heading("head")
        val title = titleOf(h)
        val w = title(r.nextInt(title.length))
        Search(template, s"245:$w AND 650__a:'$h'", rp.tagWord("245", w) intersect rp.exact(h))
      case "not" =>
        val (h, w) = (heading("head"), midWord)
        // a NOT term that matches no value matches no record
        val neg = rp.tagWord("245", w)
        Search(template, s"650__a:'$h' AND NOT 245:$w",
          if (neg.isEmpty) Set.empty else rp.exact(h) diff neg)
      case "typeahead" =>
        Search(template, heading("mid").split(' ')(r.nextInt(3)).toLowerCase.take(4), Set.empty,
          typeahead = true)
    }
    Templates.map(one).toVector
  }

  /** The typeahead page: topic headings holding the needle, by (value, id). */
  def typeaheadPage(cat: Catalog, needle: String): Seq[(String, Long)] =
    cat.topicHeadings.indices.map(i => cat.topicHeadings(i) -> cat.topicId(i))
      .filter(_._1.toLowerCase.contains(needle.toLowerCase)).sorted.take(PageSize)

  /** One search: parse, compile, plan, fetch the page, serialize it.
    * Returns the page ids (or the typeahead page). */
  def search(ctx: Ctx, store: MarcStore, compiler: SparkQueryCompiler, s: Search)
      : Either[Seq[(String, Long)], Seq[Long]] = {
    val t = ctx.tracer
    import ctx.spark.implicits._
    if (s.typeahead) {
      val page = t.span("spark", "spark.typeahead") {
        AuthOps.partialLookup(store.read("auth").toDF(), "bib", "650", "a", s.text, PageSize)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      }
      Left(page)
    } else {
      val ast = t.span("query", "query.parse")(QueryParser.parse(s.text, "bib"))
      val df: DataFrame = t.span("spark", "spark.compile") {
        if (s.sorted) compiler.runSorted(s.text, "bib", "245", "a") else compiler.run(ast)
      }
      if (t.enabled) t.span("spark", "spark.plan")(df.queryExecution.executedPlan)
      val rows = t.span("spark", "spark.exec")(df.limit(PageSize).as[MarcRow].collect())
      t.span("records", "records.encode") {
        rows.foreach(r => Serialization.toMrk(MarcSchema.fromRow(r))(AuthLookup.Empty))
      }
      Right(rows.map(_._id).toSeq)
    }
  }

  /** Compare one result page with the replay's answer. */
  def checkPage(ctx: Ctx, op: Int, cat: Catalog, s: Search,
      got: Either[Seq[(String, Long)], Seq[Long]]): Unit = got match {
    case Left(g) =>
      val w = typeaheadPage(cat, s.text)
      ctx.check(op, g == w, s"typeahead '${s.text}': got ${g.take(3)} want ${w.take(3)}")
    case Right(g) =>
      ctx.check(op, g.size == math.min(PageSize, s.expect.size) && g.forall(s.expect),
        s"search '${s.text}': page of ${g.size} ids (${g.count(s.expect)} expected), " +
          s"replay has ${s.expect.size} hits")
  }
}
