package perfbench

import graft.model.{AuthLookup, ControlField, DataField, MarcRecord, Subfield}
import graft.query.Collation

/** Seeded catalog generator in the RealMarc shape: a Zipfian
  * pseudo-word vocabulary, 3-token auth headings, and bibs whose
  * subject (650) links attach to auths with 50/30/20 head/mid/tail
  * skew. Everything derives from one seed; the same seed gives the same
  * catalog.
  *
  * Headings are unique under the store's strength-1 collation, so an
  * import file that names a heading by value always resolves to one
  * auth (no AmbiguousAuthValue), and every linked subfield points at an
  * existing auth.
  */
final class Catalog(seed: Long, val nTopics: Int, val nNames: Int, val nBibs: Int) {
  import Catalog._

  private val rng = new java.util.SplittableRandom(seed)

  /** Distinct pseudo-words: distinct after stemming too, so a word
    * search for one word never matches another. */
  val vocab: Vector[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = Vector.newBuilder[String]
    var n = 0
    while (n < VocabSize) {
      val syl = 2 + rng.nextInt(2)
      val w = (0 until syl).map { _ =>
        s"${Consonants(rng.nextInt(Consonants.length))}${Vowels(rng.nextInt(Vowels.length))}"
      }.mkString + Consonants(rng.nextInt(Consonants.length))
      val stem = graft.text.Tokenizer.stem(w)
      if (!graft.text.Tokenizer.stopWords(stem) && seen.add(stem) && seen.add(w)) { out += w; n += 1 }
    }
    out.result()
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def zipfWord(r: java.util.SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
  }

  private def phrase(r: java.util.SplittableRandom, n: Int): String =
    (0 until n).map(_ => zipfWord(r)).mkString(" ")

  private def uniqueHeadings(n: Int, tokens: Int, seen: scala.collection.mutable.Set[String],
      capitalize: Boolean): Vector[String] = {
    val out = Vector.newBuilder[String]
    var k = 0
    while (k < n) {
      val h0 = phrase(rng, tokens)
      val h = if (capitalize) h0.split(' ').map(_.capitalize).mkString(", ") else h0.capitalize
      if (seen.add(Collation.normalize(h))) { out += h; k += 1 }
    }
    out.result()
  }

  private val seenHeadings = scala.collection.mutable.HashSet.empty[String]

  /** topic auth ids are 1..nTopics (tag 150), name auths follow (tag 100). */
  val topicHeadings: Vector[String] = uniqueHeadings(nTopics, 3, seenHeadings, capitalize = false)
  val nameHeadings: Vector[String] = uniqueHeadings(nNames, 2, seenHeadings, capitalize = true)

  def topicId(i: Int): Long = i + 1L
  def nameId(i: Int): Long = nTopics + i + 1L

  /** a fresh heading that collides with no generated one */
  def freshHeading(tag: String): String = {
    val h = uniqueHeadings(1, 3, seenHeadings, capitalize = false).head
    s"$h $tag"
  }

  val auths: Vector[MarcRecord] =
    topicHeadings.indices.map(i => authRecord(topicId(i), "150", topicHeadings(i))).toVector ++
      nameHeadings.indices.map(i => authRecord(nameId(i), "100", nameHeadings(i)))

  /** head = the first 20 topics, mid = the next 580, tail = the rest */
  def skewedTopic(r: java.util.SplittableRandom): Int = {
    val t = r.nextInt(100)
    if (t < 50) r.nextInt(HeadAuths)
    else if (t < 80) HeadAuths + r.nextInt(MidAuths)
    else HeadAuths + MidAuths + r.nextInt(nTopics - HeadAuths - MidAuths)
  }

  private def bibRecord(r: java.util.SplittableRandom, id: Option[Long]): MarcRecord = {
    val topics = (Seq(skewedTopic(r)) ++
      (if (r.nextInt(10) < 3) Seq(skewedTopic(r)) else Nil)).distinct
    val fields = Vector.newBuilder[graft.model.Field]
    fields += ControlField("008", f"${1990 + r.nextInt(35)}%04d" + "0101")
    fields += DataField("245", "1", "0", Vector(
      Subfield("a", Some(phrase(r, 3 + r.nextInt(3)).capitalize)),
      Subfield("b", Some(phrase(r, 2)))))
    fields += DataField("269", subfields = Vector(Subfield("a",
      Some(f"${1990 + r.nextInt(35)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"))))
    fields += DataField("520", subfields = Vector(Subfield("a", Some(phrase(r, 8 + r.nextInt(8))))))
    topics.foreach(t => fields += DataField("650", ind2 = "7",
      subfields = Vector(Subfield("a", None, Some(topicId(t))))))
    if (nNames > 0 && r.nextInt(10) < 4)
      fields += DataField("700", "1", " ",
        Vector(Subfield("a", None, Some(nameId(r.nextInt(nNames))))))
    MarcRecord(recordType = "bib", id = id, fields = fields.result())
  }

  val bibs: Vector[MarcRecord] = {
    val r = rng.split()
    (1 to nBibs).map(i => bibRecord(r, Some(i.toLong))).toVector
  }

  /** New bibs for an import file (no ids; the store assigns them). */
  def importBibs(n: Int, salt: Long): Vector[MarcRecord] = {
    val r = new java.util.SplittableRandom(seed * 31 + salt)
    Vector.fill(n)(bibRecord(r, None))
  }

  val headingOf: Map[Long, String] =
    (topicHeadings.indices.map(i => topicId(i) -> topicHeadings(i)) ++
      nameHeadings.indices.map(i => nameId(i) -> nameHeadings(i))).toMap

  implicit val lookup: AuthLookup = new AuthLookup {
    def lookup(xref: Long, code: String): Option[String] =
      if (code == "a") headingOf.get(xref) else None
    def xlookup(sourceTag: String, code: String, value: String): Seq[Long] = Nil
  }

  /** auth id -> ids of the generated bibs linking it */
  lazy val attached: Map[Long, Seq[Long]] =
    bibs.flatMap(b => b.fields.collect {
      case d: DataField if d.tag == "650" => d.subfields.flatMap(_.xref).map(_ -> b.id.get)
    }.flatten).groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap

  /** Relational replay of the searches the benchmark issues, over the
    * generated bibs: the hit set each search must return. */
  object replay {
    import graft.text.Tokenizer
    private def subs(b: MarcRecord, tag: String, code: Option[String]): Seq[String] =
      b.fields.collect { case d: DataField if d.tag == tag => d.subfields }.flatten
        .filter(s => code.forall(_ == s.code)).flatMap(_.resolvedValue(lookup))
    private def where(p: MarcRecord => Boolean): Set[Long] = bibs.iterator.filter(p).map(_.id.get).toSet

    /** `tag:word` — a subfield of the tag whose own words hold the word */
    def tagWord(tag: String, word: String): Set[Long] = {
      val w = Tokenizer.tokenize(word)
      where(b => subs(b, tag, None).exists(v => w.forall(Tokenizer.tokenize(v).contains)))
    }
    /** `tag__code:/rx/i` */
    def tagRegex(tag: String, code: String, rx: String): Set[Long] = {
      val p = java.util.regex.Pattern.compile(rx, java.util.regex.Pattern.CASE_INSENSITIVE)
      where(b => subs(b, tag, Some(code)).exists(v => p.matcher(v).find()))
    }
    /** free text: the record's words hold every word */
    def freeText(words: String): Set[Long] = {
      val w = Tokenizer.tokenize(words).filterNot(Tokenizer.stopWords)
      where { b =>
        val text = b.fields.collect { case d: DataField =>
          Tokenizer.scrub(d.subfields.flatMap(_.resolvedValue(lookup)).mkString(" "))
        }.mkString(" ")
        val have = Tokenizer.tokenize(text).toSet
        w.forall(have)
      }
    }
    /** `subject:word` — a linked 650 heading whose words hold the word */
    def subject(word: String): Set[Long] = tagWord("650", word)
    /** `650__a:'heading'` */
    def exact(heading: String): Set[Long] = {
      val n = Collation.normalize(heading)
      headingOf.find { case (_, h) => Collation.normalize(h) == n }
        .map(a => attached.getOrElse(a._1, Nil).toSet).getOrElse(Set.empty)
    }
  }

  def word(r: java.util.SplittableRandom, rankFrom: Int, rankUntil: Int): String =
    vocab(rankFrom + r.nextInt(rankUntil - rankFrom))
}

object Catalog {
  val VocabSize = 6000
  val HeadAuths = 20
  val MidAuths = 580
  private val Consonants = "bdfgklmnprstvz"
  private val Vowels = "aeiou"

  def authRecord(id: Long, tag: String, heading: String): MarcRecord =
    MarcRecord(recordType = "auth", id = Some(id), fields = Vector(
      DataField(tag, subfields = Vector(Subfield("a", Some(heading))))))
}
