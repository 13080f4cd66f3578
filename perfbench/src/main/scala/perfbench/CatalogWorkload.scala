package perfbench

import graft.model.{DataField, MarcRecord}
import graft.query.QueryParser
import graft.records.Serialization
import graft.spark.{BatchAuthResolve, LogicalFields, MarcContext, MarcSchema, SparkQueryCompiler}
import graft.store.MarcStore
import org.apache.spark.sql.functions._

/** The catalog workload: one cataloguer's session against a store
  * loaded with the seeded catalog. It first searches the unchanged
  * catalog (the read path: no store writes), then imports an MRK file
  * through cli.MarcImport, edits under authority control
  * (a small bib commit, delete, restore, an auth heading change that
  * cascades) with a search after each edit that must see it.
  */
object CatalogWorkload {
  import Searches._

  val ImportMrk = 600
  val EditKinds = Seq("edit_10", "delete", "restore")
  val AuthKinds = Seq("auth_head")

  /** A generated catalog with its import files, loaded into a store. */
  final class Loaded(val cat: Catalog, val store: MarcStore, val dir: java.nio.file.Path,
      val mrk: java.nio.file.Path, val xml: java.nio.file.Path,
      val mrkRecs: Vector[MarcRecord]) {
    val base: java.nio.file.Path = dir.resolve("store")
    /** a compiler over the store's current tables */
    def compiler(spark: org.apache.spark.sql.SparkSession): SparkQueryCompiler =
      new SparkQueryCompiler(spark, store.read("bib").toDF(), store.read("auth").toDF())
  }

  /** Generate the catalog and the import file, and open a store on an
    * empty directory. Loading the catalog is the session's first,
    * timed, step. */
  def setUp(ctx: Ctx, size: Sizes, dir: java.nio.file.Path): Loaded = {
    val cat = new Catalog(ctx.seed, size.topics, size.names, size.bibs)
    import cat.lookup
    java.nio.file.Files.createDirectories(dir)
    val mrkRecs = cat.importBibs(ImportMrk, 1)
    val mrk = dir.resolve("import.mrk")
    val xml = dir.resolve("import.xml")
    java.nio.file.Files.write(mrk, Serialization.setToMrk(mrkRecs).getBytes("UTF-8"))
    // the same records as MARCXML, for the traced run's decode probe
    java.nio.file.Files.write(xml, Serialization.setToXml(mrkRecs).getBytes("UTF-8"))
    val store = new MarcStore(ctx.spark, dir.resolve("store").toString)
    new Loaded(cat, store, dir, mrk, xml, mrkRecs)
  }

  def run(ctx: Ctx, size: Sizes): Unit = {
    var l: Loaded = null
    val setups = (1 to Sizes.SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (l != null) Files.deleteTree(l.dir)
      l = setUp(ctx, size, ctx.work.resolve(s"catalog-$rep"))
      ctx.log(s"set-up $rep done")
      (System.nanoTime() - t0) / 1e9
    }
    ctx.putSetup(setups)
    val gc0 = ctx.gcSeconds
    // the load and the write session are a fixed script that changes
    // the catalog, so they run once; the read path runs in between, on
    // the freshly loaded catalog
    val t0 = System.nanoTime()
    Seq("load_auths" -> l.cat.auths, "load_bibs" -> l.cat.bibs).foreach { case (kind, recs) =>
      write(ctx, l, kind)(ctx.tracer.span("store", "store.load")(
        l.store.commit(MarcSchema.toDataset(ctx.spark, recs)(l.cat.lookup), user = "load")))
    }
    val loadS = (System.nanoTime() - t0) / 1e9
    readPath(ctx, l)
    val t1 = System.nanoTime()
    val c1 = ctx.checkSeconds
    writeSession(ctx, l)
    val passS = loadS + (System.nanoTime() - t1) / 1e9 - (ctx.checkSeconds - c1)
    ctx.log(ctx.ops.map(o => f"${o.kind}=${o.ms}%.0f").mkString(" "))

    // the geometric mean, not the median: a run holds only ~18
    // interactive operations of different kinds, too few for a steady
    // median; unlike pass_s, each kind weighs the same whatever it costs
    val interactive = Templates ++ EditKinds ++ AuthKinds :+ "verify_search"
    val lat = ctx.latencies(interactive: _*)
    ctx.put("op_geomean_ms", Stats.geomean(lat), "ms")
    ctx.detail("op_mean_ms", lat.sum / lat.size, "ms")
    ctx.detail("op_p50_ms", Stats.median(lat), "ms")
    ctx.put("pass_s", passS, "s")
    val reads = ctx.latencies(Templates: _*)
    ctx.detail("search_p50_ms", Stats.median(reads), "ms")
    ctx.detail("search_tail_ms", Stats.tail(reads), Stats.tailUnit(reads.size))
    ctx.detail("search_after_write_p50_ms", Stats.median(ctx.latencies("verify_search")), "ms")
    val edits = ctx.latencies(EditKinds: _*)
    ctx.detail("edit_p50_ms", Stats.median(edits), "ms")
    ctx.detail("edit_tail_ms", Stats.tail(edits), Stats.tailUnit(edits.size))
    ctx.detail("auth_edit_p50_ms", Stats.median(ctx.latencies(AuthKinds: _*)), "ms")
    ctx.detail("import_records_per_s", ImportMrk / (Stats.median(ctx.latencies("import_mrk")) / 1e3),
      "rec/s")
    ctx.detail("load_records_per_s", (l.cat.auths.size + l.cat.bibs.size) /
      ((ctx.latencies("load_auths") ++ ctx.latencies("load_bibs")).sum / 1e3), "rec/s")
    val base = l.base
    val versions = Seq("bib", "auth").map(rt => l.store.readHistory(rt).count()).sum
    val live = Seq("bibs", "auths").map(t => Files.usage(base.resolve(t))._1).sum
    val history = Seq("bib_history", "auth_history").map(t => Files.usage(base.resolve(t))._1).sum
    val (all, _) = Files.usage(base)
    ctx.detail("store_bytes_per_record", all.toDouble / versions, "B")

    if (ctx.trace) {
      val t = ctx.tracer
      def medMs(name: String) = Stats.median(t.durationsMs(name))
      Seq("query.parse", "spark.compile", "spark.plan", "spark.exec", "spark.typeahead",
        "records.encode", "store.commit", "store.delete", "store.restore", "store.auth_commit",
        "store.read", "store.load", "spark.auth_resolve").foreach(n => ctx.put(s"${n}_ms", medMs(n), "ms"))
      ctx.runtime.foreach { rc =>
        def jobs(kinds: String*) = Stats.median(ctx.ops.filter(o => kinds.contains(o.kind))
          .map(o => rc.of(o.id).jobs.toDouble).toSeq)
        ctx.put("store.commit_jobs", jobs("edit_10"), "count")
        ctx.put("store.auth_commit_jobs", jobs("auth_head"), "count")
        ctx.put("spark.rows_read_per_hit", Stats.median(pageRows.toSeq.map { case (op, n) =>
          rc.of(op).inputRecords / math.max(1.0, n.toDouble)
        }), "ratio")
      }
      ctx.put("store.bytes_written_per_op", Stats.median(written.map(_._1.toDouble).toSeq), "B")
      ctx.put("store.files_written_per_op", Stats.median(written.map(_._2.toDouble).toSeq), "count")
      ctx.put("store.live_bytes", live.toDouble, "B")
      ctx.put("store.history_bytes", history.toDouble, "B")
      ctx.put("cli.import_ms_per_record", Stats.median(ctx.latencies("import_mrk")) / ImportMrk, "ms")
      Seq("tag_index", "browse_index", "headings").foreach(n =>
        ctx.put(s"spark.${n}_s", Stats.median(t.durationsMs(s"spark.$n")) / 1e3, "s"))
      Seq("decode_mrk", "decode_xml").foreach { n =>
        ctx.put(s"records.${n}_rps", ImportMrk / (Stats.median(t.durationsMs(s"records.$n")) / 1e3), "rec/s")
      }
      ctx.put("text.tokenize_rps", ImportMrk / (Stats.median(t.durationsMs("text.tokenize")) / 1e3), "rec/s")
      ctx.putRuntime(interactive: _*)
      ctx.put("runtime.gc_s", ctx.gcSeconds - gc0, "s")
    }
  }

  // per traced run: (op -> rows returned) of searches, and (bytes, files)
  // written by each store write
  private val pageRows = scala.collection.mutable.Map.empty[Int, Int]
  private val written = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  /** a store write as one operation; traced, also its bytes and files on disk */
  private def write(ctx: Ctx, l: Loaded, kind: String)(f: => Unit): Int = {
    val (b0, f0) = if (ctx.trace) Files.usage(l.base) else (0L, 0L)
    val (id, _) = ctx.op(kind)(f)
    if (ctx.trace) {
      val (b1, f1) = Files.usage(l.base)
      written += ((b1 - b0, f1 - f0))
    }
    id
  }

  private var freshCounter = 0
  /** a word no generated record holds: "zq" + letters */
  private def freshWord(): String = {
    freshCounter += 1
    var n = freshCounter
    val sb = new StringBuilder("zq")
    while (n > 0) { sb.append(('a' + n % 26).toChar); n /= 26 }
    sb.append("x").toString
  }

  /** The read path: the seeded searches in turn, for `seconds` and
    * at least once each, on the unchanged catalog through one compiler.
    * Every page is compared with the catalog's replay and, outside the
    * timers, so is the full hit count of a seeded sample of searches.
    * (SelfTest checks the replay itself against the row-level semantic
    * spec, graft.query.RowQueryEngine.) */
  def readPath(ctx: Ctx, l: Loaded): Unit = {
    val rng = new java.util.SplittableRandom(ctx.seed ^ 0x5ea4c4L)
    val list = Searches.searches(l.cat, rng)
    val compiler = l.compiler(ctx.spark)
    list.filterNot(_.typeahead).filter(_ => rng.nextInt(6) == 0).take(1).foreach { s =>
      val n = compiler.run(QueryParser.parse(s.text, "bib")).count()
      if (n != s.expect.size) ctx.fail(0, s"search '${s.text}': $n hits, replay has ${s.expect.size}")
    }
    val start = System.nanoTime()
    var i = 0
    while (i < list.size || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      val s = list(i % list.size)
      i += 1
      val (id, got) = ctx.op(s.template)(Searches.search(ctx, l.store, compiler, s))
      got.foreach { g =>
        checkPage(ctx, id, l.cat, s, g)
        g.foreach(ids => pageRows(id) = ids.size)
      }
    }
  }

  /** The write session: imports, edits each followed by a search that
    * must see it, and the index rebuild. */
  def writeSession(ctx: Ctx, l: Loaded): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    import l.cat.lookup
    val store = l.store
    val t = ctx.tracer
    val rng = new java.util.SplittableRandom(ctx.seed ^ 0xca7a10L)
    val base = l.base

    def write(kind: String)(f: => Unit): Int = CatalogWorkload.write(ctx, l, kind)(f)

    /** search after a write, through a compiler over the store's fresh read */
    def verify(q: String, check: Seq[Long] => Option[String]): Unit = {
      val (id, got) = ctx.op("verify_search") {
        val c = t.span("store", "store.read")(l.compiler(spark))
        Searches.search(ctx, store, c, Search("verify", q, Set.empty))
      }
      got.foreach(g => check(g.toOption.get).foreach(why => ctx.fail(id, s"after-write search '$q': $why")))
    }

    // --- import of an MRK file naming its auths by $0 xref
    val before = l.cat.bibs.size
    val iid = write("import_mrk")(t.span("cli", "cli.import")(
      graft.cli.MarcImport.main(Array(l.base.toString, "bib", l.mrk.toString))))
    // every imported record is committed, each with its 650 xrefs resolved
    ctx.checking {
      val counts = store.read("bib").toDF().agg(count(lit(1)), count(when(exists(col("datafields"), f =>
        f.getField("tag") === "650" && exists(f.getField("subfields"), s => s.getField("xref").isNull)),
        lit(1)))).head()
      val imported = counts.getLong(0) - before
      ctx.check(iid, imported == l.mrkRecs.size, s"import committed $imported of ${l.mrkRecs.size} records")
      ctx.check(iid, counts.getLong(1) == 0, s"${counts.getLong(1)} bibs hold an unresolved 650 xref")
    }
    if (ctx.trace) probeDecode(ctx, l)
    // imported bibs linking each topic, to know what a cascade must reach
    val importedLinks: Map[Long, Int] = l.mrkRecs.flatMap(b =>
      b.fields.collect { case d: DataField if d.tag == "650" => d.subfields.flatMap(_.xref) }
        .flatten.distinct).groupBy(identity).view.mapValues(_.size).toMap

    // --- small bib commits: a fresh word into 245$a, then find it
    def editBibs(kind: String, n: Int): Unit = {
      val ids = (0 until n).map(_ => 1L + rng.nextInt(l.cat.nBibs)).distinct
      val word = freshWord()
      val recs = store.read("bib").where(col("_id").isin(ids: _*)).collect().toSeq.map { r =>
        val rec = MarcSchema.fromRow(r)
        MarcSchema.toRow(rec.set("245", "a", s"${rec.getValue("245", "a")} $word"))
      }
      val id = write(kind)(t.span("store", "store.commit")(
        store.commit(spark.createDataset(recs), user = "perfbench")))
      verify(s"245:$word", g =>
        if (g.size == math.min(PageSize, ids.size) && g.forall(ids.contains)) None
        else Some(s"page of ${g.size} (${g.count(ids.contains)} edited), ${ids.size} bibs edited"))
    }

    /** change an auth's heading; the cascade must reach every linking bib */
    def changeHeading(kind: String, topic: Int): Unit = {
      val authId = l.cat.topicId(topic)
      val heading = l.cat.freshHeading(kind.stripPrefix("auth_"))
      val rec = MarcSchema.fromRow(store.read("auth").where(col("_id") === authId).head())
      write(kind)(t.span("store", "store.auth_commit")(store.commit(
        spark.createDataset(Seq(MarcSchema.toRow(rec.set("150", "a", heading)))), user = "perfbench")))
      val want = l.cat.attached.getOrElse(authId, Nil).size + importedLinks.getOrElse(authId, 0)
      verify(s"650__a:'$heading'", g =>
        if (g.size == math.min(PageSize, want)) None else Some(s"page of ${g.size}, $want bibs link it"))
      ctx.checking(cascadeCheck(ctx, store, authId, heading, want))
    }

    editBibs("edit_10", 10)

    val victim = 1L + rng.nextInt(l.cat.nBibs)
    write("delete")(t.span("store", "store.delete")(store.delete("bib", Seq(victim), user = "perfbench")))
    verify(s"001:$victim", g => if (g.isEmpty) None else Some("deleted bib still found"))
    write("restore")(t.span("store", "store.restore")(store.restore("bib", victim, user = "perfbench")))
    verify(s"001:$victim", g => if (g == Seq(victim)) None else Some("restored bib not found"))

    changeHeading("auth_head", rng.nextInt(Catalog.HeadAuths))
    if (ctx.trace) probeIndexes(ctx, store, base)
  }

  /** `want` bibs link `authId`, and every linked subfield carries `heading` */
  private def cascadeCheck(ctx: Ctx, store: MarcStore, authId: Long, heading: String, want: Int): Unit = {
    val r = store.read("bib").toDF()
      .select(col("_id"), explode(col("datafields")).as("f")).where(col("f.tag") === "650")
      .select(col("_id"), explode(col("f.subfields")).as("s")).where(col("s.xref") === authId)
      .agg(count(when(col("s.value") =!= heading, lit(1))), countDistinct(col("_id"))).head()
    if (r.getLong(0) != 0) ctx.fail(0, s"${r.getLong(0)} linked subfields of auth $authId still carry the old heading")
    if (r.getLong(1) != want) ctx.fail(0, s"${r.getLong(1)} bibs link auth $authId, expected $want")
  }

  /** Traced run only: the import's layers called one by one — decode
    * (the MRK file, and the same records as MARCXML), tokenize (the
    * per-record work MarcSchema.toRow does) and auth resolution. */
  private def probeDecode(ctx: Ctx, l: Loaded): Unit = {
    val t = ctx.tracer
    implicit val none: graft.model.AuthLookup = graft.model.AuthLookup.Empty
    ctx.op("probe_import") {
      val mrk = new String(java.nio.file.Files.readAllBytes(l.mrk), "UTF-8")
      val xml = new String(java.nio.file.Files.readAllBytes(l.xml), "UTF-8")
      val recs = t.span("records", "records.decode_mrk")(
        Serialization.setFromMrk("bib", mrk, authControl = false, deleteSubfieldZero = false))
      t.span("records", "records.decode_xml")(
        Serialization.setFromXml("bib", xml, authControl = false, deleteSubfieldZero = false))
      t.span("text", "text.tokenize")(recs.foreach { r =>
        graft.text.Tokenizer.tokenize(r.fields.collect { case d: DataField =>
          graft.text.Tokenizer.scrub(d.subfields.flatMap(_.value).mkString(" "))
        }.mkString(" "))
      })
      t.span("spark", "spark.auth_resolve")(BatchAuthResolve.resolve(ctx.spark,
        l.store.read("auth").toDF(), "bib", recs, zeroXref = BatchAuthResolve.mrkZeroXref))
    }
  }

  /** Traced run only: the three derived indexes cli.InitIndexes
    * rebuilds, written one by one as it writes them. */
  private def probeIndexes(ctx: Ctx, store: MarcStore, base: java.nio.file.Path): Unit = {
    val t = ctx.tracer
    val out = base.resolveSibling("probe-indexes")
    ctx.op("probe_indexes") {
      val records = store.read("bib").toDF().unionByName(store.read("auth").toDF())
      t.span("spark", "spark.tag_index")(MarcContext.tagIndex(records)
        .write.mode("overwrite").parquet(out.resolve("tag_index").toString))
      val withLogical = Seq("bib", "auth").map(rt => LogicalFields.withLogical(store.read(rt).toDF(), rt))
        .reduce(_ unionByName _)
      t.span("spark", "spark.browse_index")(MarcContext.browseIndex(withLogical)
        .write.mode("overwrite").parquet(out.resolve("browse_index").toString))
      t.span("spark", "spark.headings")(MarcContext.authHeadings(store.read("auth").toDF())
        .write.mode("overwrite").parquet(out.resolve("headings").toString))
    }
    Files.deleteTree(out)
  }
}
