package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Incremental, Pipeline}
import graft.model.{Page, PageGen}
import graft.store.TableIO
import graft.tools.KgCli

/** What a workload sees of the harness. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val log: OpLog, val spans: SpanLog) {
  def dir(name: String): String = s"$work/$name"

  /** Runs a set-up or check phase and prints its wall time. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    println(f"[perfbench] phase $name%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    a
  }
}

/** One workload: set-up, then rounds of two timed calls (`a`, `b`) inside
  * the spans `op`, `op_a` and `op_b`, each followed by an untimed output
  * check. */
trait Workload {
  def name: String
  /** The layer the benchmark calls into (see [[Attribution.layerOf]]). */
  def spanLayer: String
  /** Generates the run's inputs from its seed; repeatable. */
  def inputs(c: Ctx): Unit
  /** Builds the base KG the rounds work on, once per run. */
  def base(c: Ctx): Unit = ()
  /** Drift guard on the canary inputs, which also warms the JIT. */
  def warmUp(c: Ctx): Unit
  /** One round; returns units of work done (triples, pages, queries) and
    * per-round layer extras, or an error. `traced` rounds also measure the
    * layer extras that need extra file listing. */
  def round(c: Ctx, t: Timer, r: Int, traced: Boolean): Either[String, (Double, Map[String, Double])]
  /** Whole-run output checks after the loop. */
  def finish(c: Ctx): Unit
  /** The largest number of rounds the inputs were generated for, warm-up
    * rounds included. */
  def maxRounds: Int
  /** Untimed rounds run first, as part of set-up. */
  def warmRounds: Int = 0
  /** Timed rounds a run makes even when they take longer than `--seconds`. */
  def minRounds: Int = 1
  def basis: Map[String, String]
}

object Workloads {
  val NPersons = 500
  /** Buckets per table. A build parameter sized to the corpus (the engine's
    * default of 32 is sized for 32 cores): at these corpus sizes 32 buckets
    * hold a few kilobytes each and every write is per-file overhead. Four
    * make an increment round about 15% shorter than eight on a 4-core VM. */
  val Buckets = 4
  /** Common-Crawl page weight (the engine's bench weight). */
  val CcMin = 40
  val CcMax = 80

  def byName(n: String): Option[Workload] = n match {
    case "build" => Some(new BuildWorkload)
    case "increment" => Some(new IncrementWorkload)
    case "query" => Some(new QueryWorkload)
    case _ => None
  }

  def pagesAt(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Page]
  }

  /** Writes pages [0, n) of `cfg` as a parquet pages table. */
  def writePages(spark: SparkSession, cfg: PageGen.Config, dir: String): Unit = {
    TableIO.deleteRecursively(dir)
    PageGen.pages(spark, cfg).write.parquet(dir)
  }

  /** Page index, recovered from the generated url (`.../p/<i>`). */
  val pageIdx = regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")

  val KgTables: Seq[String] = Seq("triples", "nodes", "edges", "components",
    "sameas_evidence", "entity_refcounts")

  /** Fingerprints of the six tables of a KG (refcounts folded), computed
    * as concurrent jobs: each is small, so one at a time would leave the
    * cores idle between jobs. */
  def kgFingerprints(spark: SparkSession, kg: String): Map[String, String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fs = KgTables.map { t =>
      t -> Future {
        val df = TableIO.read(spark, s"$kg/$t")
        Fingerprint.of(if (t == "entity_refcounts") Fingerprint.foldRefcounts(df) else df)
      }
    }
    fs.map { case (t, f) => t -> Await.result(f, Duration.Inf) }.toMap
  }

  def build(spark: SparkSession, pages: Dataset[Page], kg: String): Map[String, Long] = {
    TableIO.deleteRecursively(kg)
    val t = Pipeline.run(spark, pages, NPersons)
    try Pipeline.materialize(spark, t, kg, Buckets)
    finally { t.flatEnc.unpersist(false); t.components.unpersist(false) }
  }

  def committedRows(kg: String, table: String): Long =
    TableIO.readManifest(s"$kg/$table").map(_.buckets.values.sum).getOrElse(0L)

  def parquetFiles(dir: String): Set[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(_.toString).toSet
      finally s.close()
    }
  }

  def bytesOf(files: Set[String]): Long = files.toSeq.map(f => Files.size(Paths.get(f))).sum

  /** Live data files per bucket across the six tables, from the manifests. */
  def filesPerBucket(kg: String): Double = {
    val ms = KgTables.flatMap(t => TableIO.readManifest(s"$kg/$t"))
    val files = ms.map(m => m.files.values.map(_.size).sum).sum
    val buckets = ms.map(_.numBuckets).sum
    if (buckets == 0) 0.0 else files.toDouble / buckets
  }

  def rowsByTable(kg: String): Map[String, Long] =
    KgTables.map(t => t -> committedRows(kg, t)).toMap

  /** Deterministic generator for the seeded choices of a run. */
  def rng(seed: Long, stream: Long): scala.util.Random =
    new scala.util.Random(seed * 1000003L + stream)

  def checkEq(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

import Workloads._

/** Canary inputs and recorded fingerprints: the drift guard. A canary is
  * generated from a fixed seed whatever seed the run was given, and its
  * pages, the knowledge base, the default rules and the parameters a fixed
  * seed chooses must match `fingerprints.json`. A change to the page
  * generator, the knowledge base, the default rules or the parameter choice
  * therefore fails the run instead of moving its speed. */
object Canary {
  val Seed = 7L
  val Pages = 60

  def config(sentMin: Int, sentMax: Int): PageGen.Config =
    PageGen.Config(nPages = Pages, seed = Seed, sentMin = sentMin, sentMax = sentMax)

  /** Checks the canary pages, the knowledge base and the default rules. */
  def guardInputs(c: Ctx, cfg: PageGen.Config): Unit = {
    check(c, "pages." + cfg.sentMin + "-" + cfg.sentMax,
      Fingerprint.of(PageGen.pages(c.spark, cfg).toDF()))
    check(c, "kb", Fingerprint.digest(graft.model.KB.aliasEntries(NPersons).map(_.toString)))
    check(c, "rules", Fingerprint.digest(
      graft.extract.PatternAutomaton.DefaultRules.map(_.toString)))
  }

  /** Builds the canary KG and checks its six tables' fingerprints. */
  def buildAndCheck(c: Ctx, cfg: PageGen.Config): Unit = {
    val kg = c.dir("canary-kg")
    c.phase("canary build")(Workloads.build(c.spark, PageGen.pages(c.spark, cfg), kg))
    c.phase("canary fingerprints") {
      kgFingerprints(c.spark, kg).toSeq.sortBy(_._1).foreach { case (t, fp) =>
        check(c, s"canary.$t", fp)
      }
    }
    TableIO.deleteRecursively(kg)
  }

  def check(c: Ctx, key: String, got: String): Unit = {
    Recorded.observed(key) = got
    val err = Recorded.expected.get(key) match {
      case None => Some(s"no recorded fingerprint (observed $got)")
      case Some(want) if want != got => Some(s"drift: recorded $want, observed $got")
      case _ => None
    }
    c.log.check(s"fingerprint $key", err)
  }
}

/** The fingerprints recorded in `fingerprints.json` next to the benchmark,
  * and those observed in this run (printed with `--record`). */
object Recorded {
  var expected: Map[String, String] = Map.empty
  val observed: scala.collection.mutable.Map[String, String] =
    scala.collection.mutable.LinkedHashMap.empty

  /** Parses the flat `{"key": "value", ...}` object the file holds. */
  def parse(json: String): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2)).toMap
}

/** `build`: bulk construction of a pages table into the six bucketed
  * tables. Op a = `Pipeline.run` (scan, extract into the flat cache, link,
  * connected components), op b = `Pipeline.materialize` (the bucketed
  * writes). Every round rebuilds the same input into a fresh directory. */
final class BuildWorkload extends Workload {
  val name = "build"
  val spanLayer = "pipeline"
  val nPages = 200
  val maxRounds = 1000
  /** A build round takes about 6 s here; three give a median. */
  override val minRounds = 3
  private var pagesDir: String = _
  private var reference: Option[Map[String, String]] = None
  private var cacheBytes = 0.0

  /** The canary build is also the JIT warm-up of the build path. */
  def warmUp(c: Ctx): Unit = {
    val cfg = Canary.config(CcMin, CcMax)
    Canary.guardInputs(c, cfg)
    Canary.buildAndCheck(c, cfg)
  }

  def inputs(c: Ctx): Unit = {
    pagesDir = c.dir("pages")
    writePages(c.spark, PageGen.Config(nPages = nPages, seed = c.seed,
      sentMin = CcMin, sentMax = CcMax), pagesDir)
  }

  def round(c: Ctx, t: Timer, r: Int, traced: Boolean) = {
    val kg = c.dir("kg")
    TableIO.deleteRecursively(kg)
    val pages = pagesAt(c.spark, pagesDir)
    val tables = c.spans("op") {
      val tb = c.spans("op_a")(t.time("a")(Pipeline.run(c.spark, pages, NPersons)))
      if (traced) cacheBytes = c.spark.sparkContext.getRDDStorageInfo
        .map(i => (i.memSize + i.diskSize).toDouble).sum
      try c.spans("op_b")(t.time("b")(Pipeline.materialize(c.spark, tb, kg, Buckets)))
      finally { tb.flatEnc.unpersist(false); tb.components.unpersist(false) }
    }
    val triples = committedRows(kg, "triples")
    val fps = kgFingerprints(c.spark, kg)
    val err = if (triples <= 0) Some("no triples committed")
      else checkEq("committed triples vs counter", triples, fps("triples").takeWhile(_ != ':').toLong)
        .orElse(reference match {
          case None => reference = Some(fps); None
          case Some(ref) => checkEq(s"round $r table fingerprints", fps, ref)
        })
    err.toLeft {
      val extras = if (!traced) Map.empty[String, Double] else {
        val files = parquetFiles(kg)
        val flatRows = tables("pagesIn") + tables("mentions") + tables("triples")
        Map(
          "extract.cache_bytes" -> cacheBytes,
          "extract.rows_per_page" -> flatRows.toDouble / math.max(1L, tables("pagesIn")),
          "store.files_written" -> files.size.toDouble,
          "store.bytes_per_triple" -> bytesOf(files).toDouble / triples,
          "store.files_per_bucket" -> filesPerBucket(kg))
      }
      (triples.toDouble, extras)
    }
  }

  def finish(c: Ctx): Unit =
    c.log.check("build rounds agree", if (reference.isEmpty) Some("no round passed") else None)

  def basis = Map("pages" -> nPages.toString, "page_weight" -> s"$CcMin-$CcMax sentences")
}

/** `increment`: crawl freshness on a materialized base. Round r appends
  * `batch` new pages (op a = `Incremental.appendPages`) and takes down
  * `batch` base pages (op b = `Incremental.removePages`). After the loop
  * every table must equal a full rebuild of the surviving pages.
  *
  * Batches are stratified: each holds `evidence` English pages that carry
  * same-as evidence (the pages that can merge or split entities, the costly
  * paths) and `batch - evidence` English pages that carry none, drawn by
  * the seed. The work per batch then varies less from seed to seed. */
final class IncrementWorkload extends Workload {
  val name = "increment"
  val spanLayer = "incremental"
  val basePages = 500
  val batch = 40
  val evidence = 20
  val maxRounds = 4
  /** The first round runs cold (it takes about half again as long as a warm
    * one on a 4-core VM), so it is a warm-up and its batches are part of the base.
    * Two timed rounds take longer than `--seconds` there, so every run
    * times the same number. */
  override val warmRounds = 1
  override val minRounds = 2
  /** New pages generated past the base; enough English pages of both kinds
    * for `maxRounds` appends. */
  val newPages = 600
  private var pagesDir: String = _
  private var plan: IncrementWorkload.Plan = _
  private var rounds = 0
  private var sawMerge = false
  private var sawSplit = false

  def config(seed: Long): PageGen.Config =
    PageGen.Config(nPages = basePages + newPages, seed = seed)

  def warmUp(c: Ctx): Unit = {
    Canary.guardInputs(c, Canary.config(3, 8))
    val p = IncrementWorkload.Plan.of(config(Canary.Seed), basePages, batch, evidence, maxRounds)
    Canary.check(c, "increment.params", Fingerprint.digest(
      (p.appends ++ p.takedowns).map(_.mkString(","))))
  }

  def inputs(c: Ctx): Unit = {
    pagesDir = c.dir("pages")
    writePages(c.spark, config(c.seed), pagesDir)
    plan = IncrementWorkload.Plan.of(config(c.seed), basePages, batch, evidence, maxRounds)
  }

  override def base(c: Ctx): Unit = {
    val pages = pagesAt(c.spark, pagesDir)
    Workloads.build(c.spark, pages.filter(pageIdx < basePages), c.dir("kg"))
  }

  /** Pages live after `n` rounds: the base minus takedowns, plus appends. */
  private def live(pages: Dataset[Page], n: Int): Dataset[Page] = {
    val gone = plan.takedowns.take(n).flatten
    val added = plan.appends.take(n).flatten
    pages.filter((pageIdx < basePages && !pageIdx.isin(gone: _*)) || pageIdx.isin(added: _*))
  }

  def round(c: Ctx, t: Timer, r: Int, traced: Boolean) = {
    val kg = c.dir("kg")
    val pages = pagesAt(c.spark, pagesDir)
    val before = if (traced) Some((parquetFiles(kg), rowsByTable(kg))) else None
    val (a, rm) = c.spans("op") {
      val a = c.spans("op_a")(t.time("a")(Incremental.appendPages(c.spark,
        pages.filter(pageIdx.isin(plan.appends(r): _*)), kg, NPersons, numBuckets = Buckets)))
      val rm = c.spans("op_b")(t.time("b")(Incremental.removePages(c.spark,
        pages.filter(pageIdx.isin(plan.takedowns(r): _*)), live(pages, r + 1), kg, NPersons,
        numBuckets = Buckets)))
      (a, rm)
    }
    rounds = r + 1
    if (a.remappedIds > 0) sawMerge = true
    if (rm.deadPairs > 0) sawSplit = true
    val err =
      if (a.pages != batch) Some(s"round $r appended ${a.pages} of $batch pages")
      else if (rm.pages != batch) Some(s"round $r removed ${rm.pages} of $batch pages")
      else if (a.skippedTables.nonEmpty) Some(s"round $r skipped ${a.skippedTables}")
      else None
    err.toLeft {
      val extras = before match {
        case None => Map.empty[String, Double]
        case Some((files0, rows0)) =>
          val files1 = parquetFiles(kg)
          val rows1 = rowsByTable(kg)
          Map(
            "store.files_written" -> (files1 -- files0).size.toDouble,
            "store.bytes_per_triple" -> bytesOf(files1).toDouble / rows1("triples"),
            "store.files_per_bucket" -> filesPerBucket(kg),
            "incremental.buckets_rewritten" -> (a.tripleBucketsRewritten +
              a.edgeBucketsRewritten + rm.tripleBucketsRewritten +
              rm.edgeBucketsRewritten + rm.nodeBucketsRewritten).toDouble,
            "incremental.remapped_ids" -> (a.remappedIds + rm.remappedIds).toDouble,
            "incremental.dead_pairs" -> rm.deadPairs.toDouble,
            // rows the batch changed: net row-count change per table, the
            // append's and the takedown's counted separately
            "incremental.changed_rows" -> KgTables.map(tb => math.abs(rows1(tb) - rows0(tb))).sum.toDouble)
      }
      ((a.pages + rm.pages).toDouble, extras)
    }
  }

  def finish(c: Ctx): Unit = {
    c.log.check("increment sequence has a merging append (remappedIds > 0)",
      if (sawMerge || rounds == 0) None else Some(s"none in $rounds rounds"))
    c.log.check("increment sequence has a splitting takedown (deadPairs > 0)",
      if (sawSplit || rounds == 0) None else Some(s"none in $rounds rounds"))
    val pages = pagesAt(c.spark, pagesDir)
    val want = c.dir("kg-rebuild")
    c.phase("rebuild survivors")(Workloads.build(c.spark, live(pages, rounds), want))
    val (got, exp) = c.phase("compare fingerprints")(
      (kgFingerprints(c.spark, c.dir("kg")), kgFingerprints(c.spark, want)))
    KgTables.foreach { tb =>
      c.log.check(s"$tb equals a rebuild of the surviving pages",
        checkEq(tb, got(tb), exp(tb)))
    }
  }

  def basis = Map("base_pages" -> basePages.toString, "batch_pages" -> batch.toString,
    "batch_evidence_pages" -> evidence.toString,
    "page_weight" -> "3-8 sentences")
}

object IncrementWorkload {
  /** The seeded batches of a run, as page indices. */
  final case class Plan(appends: Vector[Vector[Long]], takedowns: Vector[Vector[Long]])

  object Plan {
    /** Draws `rounds` disjoint stratified batches from the base (takedowns)
      * and from the new pages (appends), classifying pages with the
      * generator itself. */
    def of(cfg: PageGen.Config, basePages: Int, batch: Int, evidence: Int, rounds: Int): Plan = {
      def hasEvidence(i: Long) = PageGen.sentences(cfg, i).exists(_.contains(" is also known as "))
      def draw(ids: Seq[Long], stream: Long): Vector[Vector[Long]] = {
        val en = ids.filter(i => PageGen.lang(cfg, i) == "en")
        val (ev, plain) = en.partition(hasEvidence)
        val g = rng(cfg.seed, stream)
        val evs = g.shuffle(ev.toVector).grouped(evidence).toVector
        val plains = g.shuffle(plain.toVector).grouped(batch - evidence).toVector
        require(evs.count(_.size == evidence) >= rounds &&
          plains.count(_.size == batch - evidence) >= rounds,
          s"too few pages for $rounds stratified batches of $batch")
        (0 until rounds).map(r => (evs(r) ++ plains(r)).sorted).toVector
      }
      Plan(draw(basePages.toLong until cfg.nPages.toLong, 2),
        draw(0L until basePages.toLong, 1))
    }
  }
}

/** `query`: read-side serving over a materialized KG. Each round runs one
  * bundle of point queries (op a: `lookup`, `code`, `location`) and one of
  * graph queries (op b: `slice` forward and backward at depth 3, `coref`,
  * `path`, `rank`, `sameas`), each as `KgCli.run(...).collect()`. The KG is
  * built from the canary corpus, so its tables and the answers to a fixed
  * bundle are recorded fingerprints; the run's seed draws the arguments of
  * every timed bundle from it. */
final class QueryWorkload extends Workload {
  val name = "query"
  val spanLayer = "query"
  val maxRounds = 1000
  /** The first round runs the query path cold (about 1.4 times a warm
    * round on a 4-core VM); it is a warm-up. Later rounds still get a few percent
    * faster each, so every run times the same number of rounds: three take
    * longer than `--seconds` there. */
  override val warmRounds = 1
  override val minRounds = 3
  private val corpus = Canary.config(CcMin, CcMax)
  private var pool: QueryWorkload.Pool = _

  def inputs(c: Ctx): Unit = writePages(c.spark, corpus, c.dir("pages"))

  override def base(c: Ctx): Unit = {
    Workloads.build(c.spark, pagesAt(c.spark, c.dir("pages")), c.dir("kg"))
    pool = QueryWorkload.Pool.of(c.spark, c.dir("kg"))
  }

  /** Guards the KG the queries read and the parameter choice. */
  def warmUp(c: Ctx): Unit = {
    val kg = c.dir("kg")
    Canary.guardInputs(c, corpus)
    Seq("nodes", "edges", "triples").foreach { t =>
      Canary.check(c, s"canary.$t", Fingerprint.of(TableIO.read(c.spark, s"$kg/$t")))
    }
    val (points, graph) = QueryWorkload.bundles(pool, Canary.Seed, 0)
    Canary.check(c, "query.params", Fingerprint.digest((points.flatten ++ graph).map(_.mkString(" "))))
  }

  def round(c: Ctx, t: Timer, r: Int, traced: Boolean) = {
    val kg = c.dir("kg")
    val (points, graph) = QueryWorkload.bundles(pool, c.seed, r)
    val verbS = scala.collection.mutable.ArrayBuffer.empty[String]
    def runAll(b: Seq[Seq[String]]) = b.map { q =>
      val t0 = System.nanoTime()
      val rows = KgCli.run(c.spark, kg, q.head, q.tail).collect().toSeq
      verbS += f"${q.head} ${(System.nanoTime() - t0) / 1e9}%.3f"
      q -> rows
    }
    val results = c.spans("op") {
      points.flatMap(point => c.spans("op_a")(t.time("a")(runAll(point)))) ++
        c.spans("op_b")(t.time("b")(runAll(graph)))
    }
    println(s"[perfbench] round $r query seconds: ${verbS.mkString(", ")}")
    val err = results.flatMap { case (q, rows) => checkQuery(q, rows) }.headOption
    err.toLeft {
      val n = results.map(_._2.size).sum.toDouble
      (results.size.toDouble, if (traced) Map("query.rows_out" -> n) else Map.empty[String, Double])
    }
  }

  /** Checks one answer against what the KG must return for it. */
  private def checkQuery(q: Seq[String], rows: Seq[org.apache.spark.sql.Row]): Option[String] = {
    val what = q.mkString(" ")
    def ids = rows.map(_.getAs[Long]("id")).toSet
    q.head match {
      case "lookup" =>
        checkEq(what, ids, Set(pool.entityIdOfCode(q(2).stripPrefix("^\\Q").stripSuffix("\\E$"))))
      case "code" =>
        checkEq(what, rows.map(r => r.getLong(0) -> r.getString(1)).toMap,
          q.tail.map(_.toLong).map(i => i -> pool.mentionCode(i)).toMap)
      case "location" =>
        checkEq(what, ids, q.tail.map(_.toLong).toSet)
      case "slice" | "coref" =>
        if (!ids.contains(q.last.toLong) && q.head == "coref") Some(s"$what: seed missing")
        else if (rows.isEmpty) Some(s"$what: empty")
        else None
      case "path" =>
        if (rows.nonEmpty && (rows.head.getAs[Long]("id") != q(1).toLong ||
            rows.last.getAs[Long]("id") != q(2).toLong)) Some(s"$what: wrong endpoints")
        else None
      case verb =>
        // rank and sameas take no seeded argument: their answers over the
        // canary KG are recorded
        val d = Fingerprint.digest(rows.map(_.toString))
        val key = s"query.$verb"
        Recorded.observed(key) = d
        Recorded.expected.get(key) match {
          case Some(want) if want == d => None
          case want => Some(s"$what: answer $d, recorded ${want.getOrElse("nothing")}")
        }
    }
  }

  def finish(c: Ctx): Unit = ()

  def basis = Map("pages" -> corpus.nPages.toString,
    "page_weight" -> s"$CcMin-$CcMax sentences", "corpus_seed" -> Canary.Seed.toString)
}

object QueryWorkload {
  /** Arguments the seeded choices draw from, sorted so a seed picks the
    * same ones on every run. Graph seeds come from the middle half of the
    * entities by mention count (the head entity alone has thousands), and
    * path endpoints are two hops apart, so bundles do comparable work. */
  final case class Pool(entities: Vector[(Long, String)], mentions: Vector[(Long, String)],
                        midEntities: Vector[Long], midMentions: Vector[Long],
                        twoHops: Vector[(Long, Long)]) {
    private lazy val byCode = entities.map(_.swap).toMap
    private lazy val codes = mentions.toMap
    def entityIdOfCode(code: String): Long = byCode(code)
    def mentionCode(id: Long): String = codes(id)
  }

  object Pool {
    def of(spark: SparkSession, kg: String): Pool = {
      val nodes = TableIO.read(spark, s"$kg/nodes")
      val edges = TableIO.read(spark, s"$kg/edges")
      val ents = nodes.filter(col("kind") === "Entity").select("id", "code")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toVector
      val ments = nodes.filter(col("kind") === "Mention").select("id", "code")
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toVector
      val links = edges.filter(col("kind") === "LINKS_TO").select("src", "dst")
        .orderBy("src").collect().map(r => (r.getLong(0), r.getLong(1))).toVector
      val degree = links.groupMapReduce(_._2)(_ => 1)(_ + _)
      val degs = degree.values.map(_.toDouble).toSeq
      val (lo, hi) = (Stats.quantile(degs, 0.25), Stats.quantile(degs, 0.75))
      val mid = degree.collect { case (e, d) if d >= lo && d <= hi => e }.toSet
      val ee = graft.query.GraphAnalytics.entityEdges(TableIO.read(spark, s"$kg/triples"))
        .distinct().orderBy("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toVector
      val out = ee.groupMap(_._1)(_._2)
      val twoHops = (for {
        (a, x) <- ee
        b <- out.getOrElse(x, Vector.empty)
        if b != a
      } yield (a, b)).distinct.sorted
      Pool(ents, ments, mid.toVector.sorted, links.collect { case (m, e) if mid(e) => m },
        twoHops)
    }
  }

  /** Point bundles per round: a point bundle takes about a second, so a
    * round times three of them (op a) against one graph bundle (op b). */
  val PointBundles = 3

  /** The queries of round r: `PointBundles` point bundles of three queries,
    * then one graph bundle of six. */
  def bundles(p: Pool, seed: Long, r: Int): (Seq[Seq[Seq[String]]], Seq[Seq[String]]) = {
    val g = Workloads.rng(seed, 1000L + r)
    def pick[A](v: Vector[A]): A = v(g.nextInt(v.length))
    val points = Seq.fill(PointBundles)(Seq(
      Seq("lookup", "Entity", "^\\Q" + pick(p.entities)._2 + "\\E$"),
      "code" +: Seq.fill(5)(pick(p.mentions)._1.toString).distinct,
      "location" +: Seq.fill(3)(pick(p.mentions)._1.toString).distinct))
    val (a, b) = pick(p.twoHops)
    val graph = Seq(
      Seq("slice", "forward", "3", pick(p.midMentions).toString),
      Seq("slice", "backward", "3", pick(p.midEntities).toString),
      Seq("coref", pick(p.midMentions).toString),
      Seq("path", a.toString, b.toString, "8"),
      Seq("rank", "10"),
      Seq("sameas", "10"))
    (points, graph)
  }
}
