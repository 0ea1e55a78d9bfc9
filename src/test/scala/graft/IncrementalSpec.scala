package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._

import graft.extract.{EntSlot, Lit, NumSlot, PatternAutomaton, PatternRule}
import graft.model.PageGen
import graft.store.TableIO

class IncrementalSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private val cfg = PageGen.Config(nPages = 60)
  // rule 7 ("age") re-predicated: the diff is {old 7, new 7}; its literals
  // ("is", "years", "old") hit only the pages carrying an age sentence
  private val newRules: Vector[PatternRule] = PatternAutomaton.DefaultRules.map {
    case r if r.ruleId == 7 =>
      PatternRule(7, "age_years", Vector(EntSlot, Lit("is"), NumSlot, Lit("years"), Lit("old")), 0, 1)
    case r => r
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The refcount DELTA LOG is aggregate-equivalent, not byte-equivalent:
    * compare the folded view (sum per entity, zeros dropped). */
  private def refAgg(dir: String): Seq[String] = sortedRows(
    TableIO.read(spark, s"$dir/entity_refcounts")
      .groupBy("id").agg(sum("n").as("n")).filter(col("n") =!= 0L))

  /** The build's lineage counters of every table a rule diff may rewrite. */
  private def buildCounters(dir: String): Map[String, Map[String, Long]] =
    Seq("triples", "components", "sameas_evidence", "nodes", "edges").map { tb =>
      tb -> TableIO.readManifest(s"$dir/$tb").get.counters
        .filter { case (k, _) => Set("pagesIn", "mentions", "triples")(k) }
    }.toMap

  test("changedRules is the structural symmetric difference") {
    Incremental.changedRules(PatternAutomaton.DefaultRules, PatternAutomaton.DefaultRules) shouldBe empty
    val ch = Incremental.changedRules(PatternAutomaton.DefaultRules, newRules)
    ch.map(_.pred).sorted shouldBe Seq("age", "age_years")
  }

  test("rule diff recomputes only touched buckets, result == full rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr").toString
    val pages = PageGen.pages(spark, cfg)

    // full build under the OLD rules
    val t0 = Pipeline.run(spark, pages, cfg.nPersons)
    Pipeline.materialize(spark, t0, dir)
    t0.flatEnc.unpersist(false); t0.components.unpersist(false)
    val built = buildCounters(dir)

    // incremental: apply the diff
    val touched = Incremental.applyRuleDiff(spark, pages,
      PatternAutomaton.DefaultRules, newRules, dir, cfg.nPersons)
    touched should not be empty
    touched.size should be < TableIO.NumBuckets // partial recompute, by construction
    // every table keeps the build's lineage counters (a later takedown
    // subtracts from them)
    buildCounters(dir) shouldBe built

    // ground truth: a from-scratch rebuild under the NEW rules
    val t1 = Pipeline.run(spark, pages, cfg.nPersons, rules = newRules)
    val incr = TableIO.read(spark, s"$dir/triples")
    sortedRows(incr) shouldBe sortedRows(t1.triples)
    incr.filter(col("pred") === "age_years").count() should be > 0L
    incr.filter(col("pred") === "age").count() shouldBe 0L
    t1.flatEnc.unpersist(false); t1.components.unpersist(false)

    // affected-page detection is the necessary-condition superset: every
    // page whose triples differ between the two rule sets is in a touched
    // bucket (here: every page with an age triple)
    val agePages = t1.triples.filter(col("pred") === "age_years")
      .select(pmod(xxhash64(col("url")), lit(TableIO.NumBuckets)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    agePages.subsetOf(touched) shouldBe true

    // the graph tables were delta-patched in lockstep: Triple nodes and
    // SUBJ/OBJ edges match a full rebuild's (no stale provenance subgraph)
    sortedRows(TableIO.read(spark, s"$dir/nodes")) shouldBe sortedRows(t1.nodes)
    sortedRows(TableIO.read(spark, s"$dir/edges")) shouldBe sortedRows(t1.edges)

    // a no-op diff touches nothing
    Incremental.applyRuleDiff(spark, pages, newRules, newRules, dir, cfg.nPersons) shouldBe empty
    TableIO.deleteRecursively(dir)
  }

  test("affected-page detection reads the EXTRACTED text (html-backed pages)") {
    import spark.implicits._
    val changed = Incremental.changedRules(PatternAutomaton.DefaultRules, newRules)
    val ts = new java.sql.Timestamp(0L)
    // the literals live ONLY in the html column; `text` is null
    val html = "<html><body><p>Alice Zorn is 41 years old.</p></body></html>"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val pages = Seq(
      graft.model.Page("http://h/x", ts, html, null, "en"),
      graft.model.Page("http://h/y", ts, null, "nothing relevant here", "en")).toDS()
    val hit = Incremental.affectedPages(pages, changed).collect().map(_.url)
    hit shouldBe Array("http://h/x")
  }

  test("appendPages: corpus growth equals a full rebuild, including entity merges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-append").toString
    val c = PageGen.Config(nPages = 90)
    def range(lo: Long, hi: Long) = spark.range(lo, hi).map(i => PageGen.page(c, i))

    // initial build over pages [0, 60)
    val t0 = Pipeline.run(spark, range(0, 60), c.nPersons)
    Pipeline.materialize(spark, t0, dir)
    t0.flatEnc.unpersist(false); t0.components.unpersist(false)

    // the monthly crawl batch: pages [60, 90) — with a slice re-fetched
    // INSIDE the batch window (duplicate urls must collapse to one row
    // deterministically, not wedge the guards)
    val snaps = Seq("triples", "edges").map(tb => tb -> TableIO.snapshots(s"$dir/$tb")).toMap
    val stats = Incremental.appendPages(spark,
      range(60, 90).union(range(75, 90)), dir, c.nPersons)
    stats.pages should be > 0L
    stats.skippedTables shouldBe empty
    // the batch's same_as evidence merges previously-distinct components —
    // the retroactive-canonicalization path is actually exercised
    stats.remappedIds should be > 0L
    stats.tripleBucketsRewritten should be > 0
    stats.edgeBucketsRewritten should be > 0
    // the merge-stale rewrite and the batch append are ONE commit per table
    snaps.foreach { case (tb, before) =>
      withClue(tb) { TableIO.snapshots(s"$dir/$tb").filterNot(before.toSet) should have size 1 }
    }

    // ground truth: a from-scratch rebuild over all 90 pages
    val t1 = Pipeline.run(spark, range(0, 90), c.nPersons)
    val wantTriples = sortedRows(t1.triples)
    val wantNodes = sortedRows(t1.nodes)
    val wantEdges = sortedRows(t1.edges)
    val wantComponents = sortedRows(t1.components.toDF())
    t1.flatEnc.unpersist(false); t1.components.unpersist(false)
    sortedRows(TableIO.read(spark, s"$dir/triples")) shouldBe wantTriples
    sortedRows(TableIO.read(spark, s"$dir/nodes")) shouldBe wantNodes
    sortedRows(TableIO.read(spark, s"$dir/edges")) shouldBe wantEdges
    sortedRows(TableIO.read(spark, s"$dir/components")) shouldBe wantComponents
    val wantRef = refAgg(dir) // folded counts after the append…

    // crash/retry convergence: re-sending the SAME batch is detected per
    // table (all-or-nothing key overlap) and skipped; nothing changes
    val again = Incremental.appendPages(spark, range(60, 90), dir, c.nPersons)
    again.skippedTables.toSet shouldBe Set("triples", "edges", "nodes", "sameas_evidence")
    again.remappedIds shouldBe 0L
    sortedRows(TableIO.read(spark, s"$dir/triples")) shouldBe wantTriples
    sortedRows(TableIO.read(spark, s"$dir/edges")) shouldBe wantEdges
    // …survive redelivery unchanged: the batch marker makes the refcount
    // delta append exactly-once (a double-add would inflate every count)
    refAgg(dir) shouldBe wantRef

    // a batch mixing new and already-ingested urls is a misuse, not an append
    // (and not a resume — that is an ALL-ingested batch, tested above)
    intercept[IllegalArgumentException] {
      Incremental.appendPages(spark, range(85, 95), dir, c.nPersons)
    }
    TableIO.deleteRecursively(dir)
  }

  // ---- takedown fixtures shared by the takedown specs: a build
  // over pages [0, 90) and the rebuild over the survivors [0, 60) ----
  private val rmCfg = PageGen.Config(nPages = 90)
  private def rmRange(lo: Long, hi: Long) = {
    import spark.implicits._
    val c = rmCfg // the closure must not capture the (unserializable) suite
    spark.range(lo, hi).map(i => PageGen.page(c, i))
  }
  private val rmDirs = collection.mutable.Buffer.empty[String]
  private def rmBuild(hi: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rm-fixture").toString
    rmDirs += dir
    val t = Pipeline.run(spark, rmRange(0, hi), rmCfg.nPersons)
    Pipeline.materialize(spark, t, dir)
    t.flatEnc.unpersist(false); t.components.unpersist(false)
    dir
  }
  private lazy val rmBase: String = rmBuild(90)
  private lazy val rmWant: String = rmBuild(60)
  override def afterAll(): Unit = try rmDirs.foreach(TableIO.deleteRecursively)
    finally super.afterAll()
  private def copyTree(from: String, to: String): Unit = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(from)
    val ls = Files.walk(src)
    try ls.forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d) else Files.copy(p, d)
    } finally ls.close()
  }
  private def takedown(dir: String) =
    Incremental.removePages(spark, rmRange(60, 90), rmRange(0, 60), dir, rmCfg.nPersons)
  private def counters(dir: String): Map[String, Map[String, Long]] =
    Seq("triples", "nodes", "edges", "components", "sameas_evidence", "entity_refcounts")
      .map(tb => tb -> TableIO.readManifest(s"$dir/$tb").get.counters).toMap
  private def assertRebuild(dir: String): Unit = {
    Seq("triples", "nodes", "edges", "components", "sameas_evidence").foreach { tb =>
      withClue(tb) {
        sortedRows(TableIO.read(spark, s"$dir/$tb")) shouldBe
          sortedRows(TableIO.read(spark, s"$rmWant/$tb"))
      }
    }
    refAgg(dir) shouldBe refAgg(rmWant)
  }

  test("removePages: takedown equals a full rebuild on the remaining corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rm").toString
    TableIO.deleteRecursively(dir); copyTree(rmBase, dir)
    val tDir = s"$dir/triples"
    val before = TableIO.snapshots(tDir)
    // the engine's affected set, derived independently from the base and
    // the rebuild: surviving urls with a row that references an old root
    // some id moved away from
    val oldComp = TableIO.read(spark, s"$dir/components").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val newComp = TableIO.read(spark, s"$rmWant/components").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val changedRoots = oldComp.collect { case (id, c) if !newComp.get(id).contains(c) => c }.toSet
    val batchUrls = (60L until 90L).map(i => PageGen.page(rmCfg, i).url).toSet
    val rows = TableIO.read(spark, tDir).select("url", "subj", "obj").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val presentUrls = rows.map(_._1).filter(batchUrls).distinct
    val affUrls = rows.collect {
      case (u, s, o) if !batchUrls(u) && (changedRoots(s) || changedRoots(o)) => u }.distinct
    affUrls should not be empty // the takedown exercises both halves of the triples commit
    val want = TableIO.bucketsOfSpark(spark, presentUrls.toSeq ++ affUrls).values.toSet

    // take down pages [60, 90) — the appendPages spec proves this exact
    // slice carries same-as evidence that MERGED components, so its removal
    // must SPLIT them back: the hard (non-functional-remap) direction
    val stats = takedown(dir)
    stats.pages should be > 0L
    stats.deadPairs should be > 0L     // the slice's evidence actually left
    stats.remappedIds should be > 0L   // and the mapping actually split
    stats.affectedUrls shouldBe affUrls.size.toLong

    // the batch-url drop and the split-fallout re-derivation are ONE
    // triples commit over urlBuckets ∪ affBuckets, written by one job (the
    // file name carries the job's uuid)
    stats.tripleBucketsRewritten shouldBe want.size
    TableIO.snapshots(tDir).filterNot(before.toSet) should have size 1
    val head = TableIO.readManifest(tDir).get
    val JobOf = """part-\d+-([0-9a-f-]{36}).*""".r
    val jobs = want.toSeq.flatMap(b => head.files.getOrElse(b, Nil))
      .map { case JobOf(uuid) => uuid }.toSet
    jobs should have size 1

    // ground truth: a from-scratch build over the remaining 60 pages —
    // every table, including the evidence sidecar, must match bit-exactly
    assertRebuild(dir)

    // idempotent retry: the presence anchor (page nodes) is gone, so a
    // redelivered takedown no-ops — no table changes, no double-subtracted
    // manifest counters
    val again = takedown(dir)
    again.pages shouldBe 0L
    again.remappedIds shouldBe 0L
    sortedRows(TableIO.read(spark, tDir)) shouldBe sortedRows(TableIO.read(spark, s"$rmWant/triples"))

    // a takedown list of never-crawled urls is a clean no-op, not an error
    val unknown = Incremental.removePages(spark, rmRange(200, 210), rmRange(0, 60), dir,
      rmCfg.nPersons)
    unknown.pages shouldBe 0L

    TableIO.deleteRecursively(dir)
  }

  test("an append and a takedown leave no pinned or cached frame behind") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pins").toString
    TableIO.deleteRecursively(dir); copyTree(rmWant, dir)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // pages [60, 90) merge components on the way in and split them on the
    // way out, so both the merge and the CC slow path pin their frames
    val a = Incremental.appendPages(spark, rmRange(60, 90), dir, rmCfg.nPersons)
    a.remappedIds should be > 0L
    val r = takedown(dir)
    r.remappedIds should be > 0L
    sc.getPersistentRDDs.size should be <= before
    TableIO.deleteRecursively(dir)
  }

  /** Jobs one call runs, counted by a listener once the bus has drained. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.BusDrain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.graft.BusDrain(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }
  // the counts this fixture gives (they repeat exactly for a fixed input);
  // before each pin returned its count and key buckets, and before an
  // append committed each data table once, they were 101 and 135
  private val AppendJobs = 66
  private val TakedownJobs = 91

  test("an append and a takedown stay within their job budgets") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    TableIO.deleteRecursively(dir); copyTree(rmWant, dir)
    // the pin-release case's fixture: [60, 90) merges on the way in and
    // splits on the way out, so both ops take their slow paths
    val append = jobsOf(Incremental.appendPages(spark, rmRange(60, 90), dir, rmCfg.nPersons))
    val remove = jobsOf(takedown(dir))
    withClue("appendPages") { append should be <= AppendJobs }
    withClue("removePages") { remove should be <= TakedownJobs }
    TableIO.deleteRecursively(dir)
  }

  test("removePages fast path: no dead evidence means no mapping churn") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rm-fast").toString
    TableIO.deleteRecursively(dir); copyTree(rmBase, dir)
    val c = rmCfg
    val before = sortedRows(TableIO.read(spark, s"$dir/components"))

    // a batch with no same-as evidence at all cannot touch the mapping:
    // pick pages that extracted zero same_as pairs (query the evidence
    // table's urls and remove pages OUTSIDE it)
    val evUrls = TableIO.read(spark, s"$dir/sameas_evidence")
      .select("url").distinct().collect().map(_.getString(0)).toSet
    val allPages = (0L until 90L).map(i => PageGen.page(c, i))
    val quiet = allPages.filter(p => p.lang == "en" && !evUrls.contains(p.url)).take(5)
    assume(quiet.nonEmpty) // PageGen at 90 pages always has evidence-free pages
    val quietIdx = quiet.map(p => allPages.indexWhere(_.url == p.url).toLong)
    val batch = spark.createDataset(quiet)
    val rest = spark.range(0, 90).filter(i => !quietIdx.contains(i))
      .map(i => PageGen.page(c, i))

    val stats = Incremental.removePages(spark, batch, rest, dir, c.nPersons)
    stats.pages shouldBe quiet.size.toLong
    stats.deadPairs shouldBe 0L
    stats.remappedIds shouldBe 0L
    stats.affectedUrls shouldBe 0L // no surviving page was re-derived
    sortedRows(TableIO.read(spark, s"$dir/components")) shouldBe before

    // equivalence with the rebuild on what remains
    val t1 = Pipeline.run(spark, rest, c.nPersons)
    sortedRows(TableIO.read(spark, s"$dir/triples")) shouldBe sortedRows(t1.triples)
    sortedRows(TableIO.read(spark, s"$dir/nodes")) shouldBe sortedRows(t1.nodes)
    sortedRows(TableIO.read(spark, s"$dir/edges")) shouldBe sortedRows(t1.edges)
    refAgg(dir) shouldBe sortedRows(Pipeline.entityRefDeltas(t1.flat))
    t1.flatEnc.unpersist(false); t1.components.unpersist(false)
    TableIO.deleteRecursively(dir)
  }

  test("removePages crash/retry: a takedown cut after its triples, evidence and refcount commits converges") {
    // restoring a table from the pre-takedown copy = the takedown never
    // committed it; components + nodes = the crash after the SAME_AS edge
    // delta; nodes alone = the crash just before the anchor drop
    Seq(Seq("nodes", "edges", "components"), Seq("components", "nodes"), Seq("nodes"))
      .foreach { restored =>
        withClue(restored.mkString("restored ", ",", ": ")) {
          val dir = java.nio.file.Files.createTempDirectory("graft-rm-crash").toString
          TableIO.deleteRecursively(dir); copyTree(rmBase, dir)
          val first = takedown(dir)
          first.deadPairs should be > 0L
          val clean = counters(dir)
          restored.foreach { tb =>
            TableIO.deleteRecursively(s"$dir/$tb"); copyTree(s"$rmBase/$tb", s"$dir/$tb")
          }
          // the anchor is back, so the retry re-runs every chain
          takedown(dir).pages shouldBe first.pages
          assertRebuild(dir)
          // a re-applied rewrite subtracts the batch's counters only once
          counters(dir) shouldBe clean
          TableIO.deleteRecursively(dir)
        }
      }
  }

  test("deferred merge rewrite (merge-on-read): readTriples is current, compaction folds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mor").toString
    val c = PageGen.Config(nPages = 90)
    def range(lo: Long, hi: Long) = spark.range(lo, hi).map(i => PageGen.page(c, i))
    val t0 = Pipeline.run(spark, range(0, 60), c.nPersons)
    Pipeline.materialize(spark, t0, dir)
    t0.flatEnc.unpersist(false); t0.components.unpersist(false)

    val stats = Incremental.appendPages(spark, range(60, 90), dir, c.nPersons,
      deferMergeRewrite = true)
    stats.remappedIds should be > 0L
    stats.tripleBucketsRewritten shouldBe 0 // no data file was touched
    stats.edgeBucketsRewritten shouldBe 0   // SAME_AS fallout deferred too

    val t1 = Pipeline.run(spark, range(0, 90), c.nPersons)
    val want = sortedRows(t1.triples)
    val wantE = sortedRows(t1.edges)
    t1.flatEnc.unpersist(false); t1.components.unpersist(false)
    // the PHYSICAL rows still carry pre-merge canonical ids…
    sortedRows(TableIO.read(spark, s"$dir/triples")) should not equal want
    // …but the merge-on-read paths serve the current truth
    sortedRows(Incremental.readTriples(spark, dir)) shouldBe want
    sortedRows(Incremental.readEdges(spark, dir)) shouldBe wantE

    // maintenance folds the remap into the rows and drops the side table
    val (ft, fe) = Incremental.compactMergeRemap(spark, dir)
    ft should not be empty
    fe should not be empty
    TableIO.readManifest(s"$dir/canon_remap") shouldBe None
    sortedRows(TableIO.read(spark, s"$dir/triples")) shouldBe want
    sortedRows(TableIO.read(spark, s"$dir/edges")) shouldBe wantE
    sortedRows(Incremental.readTriples(spark, dir)) shouldBe want // a plain read now
    // idempotent: nothing left to fold
    Incremental.compactMergeRemap(spark, dir) shouldBe ((Set.empty, Set.empty))
    TableIO.deleteRecursively(dir)
  }

  test("deferred remaps across epochs compose; an eager append folds the pending chain") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mor2").toString
    val c = PageGen.Config(nPages = 150)
    def range(lo: Long, hi: Long) = spark.range(lo, hi).map(i => PageGen.page(c, i))
    val t0 = Pipeline.run(spark, range(0, 60), c.nPersons)
    Pipeline.materialize(spark, t0, dir)
    t0.flatEnc.unpersist(false); t0.components.unpersist(false)

    // two deferred crawl epochs back to back: the second composes its remap
    // onto the pending chain (one read-time hop must reach the final root)
    Incremental.appendPages(spark, range(60, 90), dir, c.nPersons, deferMergeRewrite = true)
    Incremental.appendPages(spark, range(90, 120), dir, c.nPersons, deferMergeRewrite = true)
    val t1 = Pipeline.run(spark, range(0, 120), c.nPersons)
    val want120 = sortedRows(t1.triples)
    t1.flatEnc.unpersist(false); t1.components.unpersist(false)
    sortedRows(Incremental.readTriples(spark, dir)) shouldBe want120

    // a plain EAGER append folds the pending chain before trusting bytes
    Incremental.appendPages(spark, range(120, 150), dir, c.nPersons)
    TableIO.readManifest(s"$dir/canon_remap") shouldBe None
    val t2 = Pipeline.run(spark, range(0, 150), c.nPersons)
    val want150 = sortedRows(t2.triples)
    val want150E = sortedRows(t2.edges)
    t2.flatEnc.unpersist(false); t2.components.unpersist(false)
    sortedRows(TableIO.read(spark, s"$dir/triples")) shouldBe want150
    sortedRows(TableIO.read(spark, s"$dir/edges")) shouldBe want150E
    TableIO.deleteRecursively(dir)
  }

  test("same_as rule diff falls back to a full rebuild (stale canonical map)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-sa").toString
    val pages = PageGen.pages(spark, cfg)
    val t0 = Pipeline.run(spark, pages, cfg.nPersons)
    Pipeline.materialize(spark, t0, dir)
    t0.flatEnc.unpersist(false); t0.components.unpersist(false)
    val built = buildCounters(dir)

    // drop the same_as rule entirely: no links -> no canonicalization
    val noSameAs = PatternAutomaton.DefaultRules.filterNot(_.pred == "same_as")
    val touched = Incremental.applyRuleDiff(spark, pages,
      PatternAutomaton.DefaultRules, noSameAs, dir, cfg.nPersons)
    touched.size shouldBe TableIO.NumBuckets // full recompute, detected
    buildCounters(dir) shouldBe built

    val t1 = Pipeline.run(spark, pages, cfg.nPersons, rules = noSameAs)
    sortedRows(TableIO.read(spark, s"$dir/triples")) shouldBe sortedRows(t1.triples)
    sortedRows(TableIO.read(spark, s"$dir/components")) shouldBe sortedRows(t1.components.toDF())
    // the evidence sidecar was refreshed in lockstep (no same_as rule ->
    // empty), so a later removePages cannot recompute a stale mapping
    sortedRows(TableIO.read(spark, s"$dir/sameas_evidence")) shouldBe
      sortedRows(Pipeline.sameAsEvidence(t1.flat))
    t1.flatEnc.unpersist(false); t1.components.unpersist(false)
    TableIO.deleteRecursively(dir)
  }
}
